package graft.ops

import graft.ops.Caches.Tracked

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the language-ID / quality /
  * token-statistics / fingerprinting layer a large-scale training-data
  * pipeline needs (north-star extension; no counterpart in the reference,
  * which delegates all text understanding to the external LLM).
  *
  * Everything here is built from codegen'd built-ins and higher-order array
  * functions — zero UDFs — so whole-stage codegen spans the entire pipeline
  * and each query is one parquet scan + narrow projections (shuffle only
  * where an aggregation needs it). Cross-engine determinism: the only
  * primitives are integer arithmetic mod P and IEEE double ops in a fixed
  * fold order, which DuckDB reproduces exactly (see [[TextFunctions]]).
  */
object TextFunctions {
  /** Modulus keeping every intermediate < 2^63 without overflow. */
  val P = 1000003L

  def words(text: Column): Column = split(text, " ")

  /** A document's word set: its distinct words, sorted — the group identity
    * of the word-set dedup (q36) and the set every set-similarity operator
    * compares.
    */
  def wordSet(text: Column): Column = array_sort(array_distinct(words(text)))

  /** md5 of the space-joined [[wordSet]]: a 32-byte shuffle key for the
    * word-set group, never the text itself.
    */
  def wordSetKey(text: Column): Column = md5(array_join(wordSet(text), " "))

  /** Oracle twins of [[wordSet]] and [[wordSetKey]] over the `text` column. */
  val wordSetSql: String = "list_sort(list_distinct(string_split(text,' ')))"
  val wordSetKeySql: String = s"md5(array_to_string($wordSetSql, ' '))"

  /** Polynomial char hash: fold chars, (acc*31 + ascii) % P. Matches the SQL
    * `list_reduce(list_prepend(0, list_transform(string_split(w,''), ascii)))`
    * fold exactly (verified bit-identical on both engines).
    */
  def wordHash(w: Column): Column =
    aggregate(
      transform(split(w, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31 + c) % P)

  /** Per-word hashes of the distinct word set (set semantics for MinHash). */
  def wordSetHashes(text: Column): Column =
    transform(array_distinct(words(text)), wordHash(_))

  /** SQL twin of [[wordHash]] for an expression `w`. */
  def wordHashSql(w: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($w,''), c -> CAST(ascii(c) AS BIGINT))), (acc,c) -> (acc*31+c) % ${P})"
}

object TextOps {

  /** Default packed-sequence length for [[curationFunnel]] — single source
    * for the Scala default AND the q152 oracle twin (interpolated, so a
    * retuned default can't silently diverge from the SQL).
    */
  val PackSeqLen = 512L
  import TextFunctions._

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is")
  private val deStop = Seq("der", "die", "das", "und", "ist", "nicht")
  private val esStop = Seq("el", "la", "los", "de", "que", "es")

  /** English stopword share of a word array — q32's `stopword_ratio`. */
  private def stopRatio(ws: Column): Column =
    size(filter(ws, w => w.isInCollection(enStop))).cast("double") / size(ws).cast("double")

  /** q32's document quality score over a word array, the one definition
    * every quality-ranked query (q32, q183, q210, q213, q218, q250, q260,
    * q268, q273) shares: 0.4·min(n∕100, 1) + 0.3·stopword ratio +
    * 0.3·min(mean word length∕8, 1), rounded to 4 dp in a fixed double
    * arithmetic order for oracle parity. Callers add their own
    * quantization (DECIMAL(12,4) cast, half-up `q4` integer) and alias.
    */
  private def quality(ws: Column): Column = {
    val nTok = size(ws).cast("double")
    val meanLen = aggregate(transform(ws, w => length(w).cast("long")), lit(0L), _ + _)
      .cast("double") / nTok
    OracleMath.stableRound(
      least(nTok / 100.0, lit(1.0)) * 0.4 + stopRatio(ws) * 0.3 +
        least(meanLen / 8.0, lit(1.0)) * 0.3, 4)
  }

  /** Oracle twin of [[quality]]'s inputs, as select-list columns over a
    * `documents` row: token count `n_tok`, English stopword hits `sw` and
    * summed word length `wl`.
    */
  private val qualityColsSql: String =
    s"""len(string_split(text,' ')) AS n_tok,
       |       CAST(len(list_filter(string_split(text,' '), w -> w IN (${enStop.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) AS sw,
       |       list_sum(list_transform(string_split(text,' '), w -> CAST(length(w) AS BIGINT))) AS wl""".stripMargin

  /** Oracle twin of [[quality]] over [[qualityColsSql]]'s columns. */
  private val qualitySql: String = OracleMath.stableRoundSql(
    "least(CAST(n_tok AS DOUBLE)/100.0, 1.0)*0.4 + (sw / CAST(n_tok AS DOUBLE))*0.3 + " +
      "least((CAST(wl AS DOUBLE)/CAST(n_tok AS DOUBLE))/8.0, 1.0)*0.3", 4)

  /** Token statistics: counts, type-token ratio, mean word length. One scan,
    * no shuffle (per-row arrays only).
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(ws).cast("long").as("n_tokens"),
        size(array_distinct(ws)).cast("long").as("n_distinct"),
        OracleMath.stableRound(size(array_distinct(ws)).cast("double") / size(ws), 4).as("ttr"),
        OracleMath.stableRound(
          aggregate(transform(ws, w => length(w).cast("long")), lit(0L), _ + _).cast("double") / size(ws),
          4).as("mean_wlen"))
      .orderBy(col("doc_id"))
  }

  /** Language ID via stopword-profile scoring (n-gram-heuristic family):
    * score = stopword hits per language, argmax with a fixed tie order.
    * On real multilingual corpora the profiles would be char n-grams; the
    * operator shape (per-row scoring → argmax, no shuffle) is identical.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    def score(stop: Seq[String]): Column =
      size(filter(ws, w => w.isInCollection(stop))).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        score(enStop).as("s_en"), score(deStop).as("s_de"), score(esStop).as("s_es"))
      .withColumn("lang_pred",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es"), "en")
          .when(col("s_de") >= col("s_es"), "de")
          .otherwise("es"))
      .orderBy(col("doc_id"))
  }

  /** Dataset card — the one-page corpus summary a training-data release
    * ships with (the "datasheets for datasets" practice), computed as ONE
    * query: volume, duplication, quality, language mix and the token-count
    * median, each a (metric, value) row. Every value is exact-integer or
    * fixed-expression arithmetic:
    *
    *  - duplication rates reuse q35/q36's group identities (distinct texts
    *    / distinct word sets vs docs);
    *  - mean quality sums the DECIMAL(12,4)-quantized q32 score (order-free
    *    exact, the q210 discipline) before one division;
    *  - the token median is an exact lower median on the BOUNDED token
    *    domain (the q242 crossing predicate on token-count cells);
    *  - language concentration is the max language share.
    *
    * Scale shape: five independent corpus aggregates (each one scan +
    * tiny shuffle) unioned into a 9-row report — no metric ever
    * materializes more than its own aggregate.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = words(col("text"))
    val qual = quality(ws).cast(org.apache.spark.sql.types.DecimalType(12, 4))

    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        size(ws).cast("long").as("n_tokens"), qual.as("q"))

    val vol = base.agg(
      count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tok"),
      countDistinct(col("text")).as("d_text"),
      countDistinct(array_join(wordSet(col("text")), " "))
        .as("d_ws"),
      sum(col("q")).as("q_sum"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"))
    val topLang = base.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("top_lang_docs"))
    // exact lower median of token counts on the bounded domain
    val cells = base.groupBy(col("n_tokens")).agg(count(lit(1)).as("w"))
    val cw = Window.orderBy(col("n_tokens"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tw = Window.partitionBy()
    val med = cells
      .withColumn("cum", sum(col("w")).over(cw))
      .withColumn("tot", sum(col("w")).over(tw))
      .filter(col("cum") * 2 >= col("tot") && (col("cum") - col("w")) * 2 < col("tot"))
      .select(col("n_tokens").cast("double").as("p50_tokens"))

    def metric(ord: Int, name: String, v: Column): Column =
      struct(lit(ord.toLong).as("ord"), lit(name).as("metric"), v.cast("double").as("value"))
    vol.crossJoin(topLang).crossJoin(broadcast(med))
      .select(explode(array(
        metric(1, "n_docs", col("n_docs")),
        metric(2, "n_tokens", col("n_tok")),
        metric(3, "mean_tokens_per_doc", OracleMath.stableRound(
          col("n_tok").cast("double") / col("n_docs").cast("double"), 4)),
        metric(4, "p50_tokens", col("p50_tokens")),
        metric(5, "exact_dup_pct", OracleMath.stableRound(
          lit(1.0) - col("d_text").cast("double") / col("n_docs").cast("double"), 6)),
        metric(6, "wordset_dup_pct", OracleMath.stableRound(
          lit(1.0) - col("d_ws").cast("double") / col("n_docs").cast("double"), 6)),
        metric(7, "mean_quality", OracleMath.stableRound(
          col("q_sum").cast("double") / col("n_docs").cast("double"), 4)),
        metric(8, "n_languages", col("n_langs")),
        metric(9, "top_lang_share", OracleMath.stableRound(
          col("top_lang_docs").cast("double") / col("n_docs").cast("double"), 6)))).as("m"))
      .select(col("m.ord").as("ord"), col("m.metric").as("metric"), col("m.value").as("value"))
      .orderBy(col("ord"))
  }

  val datasetCardOracle: String =
    s"""WITH base AS (SELECT doc_id, text, lang, source,
       |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens, $qualityColsSql
       |  FROM documents),
       |b2 AS (SELECT *, CAST($qualitySql AS DECIMAL(12,4)) AS q FROM base),
       |vol AS (SELECT count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tok,
       |    count(DISTINCT text) AS d_text,
       |    count(DISTINCT array_to_string($wordSetSql, ' ')) AS d_ws,
       |    sum(q) AS q_sum,
       |    count(DISTINCT source) AS n_sources, count(DISTINCT lang) AS n_langs
       |  FROM b2),
       |toplang AS (SELECT max(c) AS top_lang_docs FROM
       |  (SELECT count(*) AS c FROM base GROUP BY lang)),
       |cells AS (SELECT n_tokens, count(*) AS w FROM base GROUP BY 1),
       |cc AS (SELECT n_tokens, w,
       |    CAST(sum(w) OVER (ORDER BY n_tokens ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(sum(w) OVER () AS BIGINT) AS tot
       |  FROM cells),
       |med AS (SELECT CAST(n_tokens AS DOUBLE) AS p50_tokens FROM cc
       |        WHERE cum * 2 >= tot AND (cum - w) * 2 < tot)
       |SELECT CAST(ord AS BIGINT) AS ord, metric, value FROM (
       |  SELECT 1 AS ord, 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM vol
       |  UNION ALL SELECT 2, 'n_tokens', CAST(n_tok AS DOUBLE) FROM vol
       |  UNION ALL SELECT 3, 'mean_tokens_per_doc',
       |    ${OracleMath.stableRoundSql("CAST(n_tok AS DOUBLE) / CAST(n_docs AS DOUBLE)", 4)} FROM vol
       |  UNION ALL SELECT 4, 'p50_tokens', p50_tokens FROM med
       |  UNION ALL SELECT 5, 'exact_dup_pct',
       |    ${OracleMath.stableRoundSql("1.0 - CAST(d_text AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} FROM vol
       |  UNION ALL SELECT 6, 'wordset_dup_pct',
       |    ${OracleMath.stableRoundSql("1.0 - CAST(d_ws AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} FROM vol
       |  UNION ALL SELECT 7, 'mean_quality',
       |    ${OracleMath.stableRoundSql("CAST(q_sum AS DOUBLE) / CAST(n_docs AS DOUBLE)", 4)} FROM vol
       |  UNION ALL SELECT 8, 'n_languages', CAST(n_langs AS DOUBLE) FROM vol
       |  UNION ALL SELECT 9, 'top_lang_share',
       |    ${OracleMath.stableRoundSql("CAST(top_lang_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} FROM vol CROSS JOIN toplang
       |) ORDER BY ord""".stripMargin

  /** Vocabulary-drift parameters: minimum total occurrences for a term to
    * be tested (rare terms produce noise chi-squares) and the report size.
    */
  val VocabDriftMinFreq = 10L
  val VocabDriftTopK = 20

  /** Vocabulary drift between ingest batches — the text-level batch
    * monitor beside q166's value drift and q243's volume CUSUM: term
    * occurrence counts in two deterministic document batches (doc_id
    * parity — the stand-in for consecutive ingest batches), each frequent
    * term scored by its 2×2 homogeneity chi-square contribution (observed
    * vs expected under the batch marginals). A vocabulary shift — new
    * boilerplate, a source change, a language mix move — surfaces as
    * high-chi2 terms long before aggregate counts move.
    *
    * Exactness: all counts and marginals are exact integers from ONE
    * term-keyed aggregation; each chi-square contribution is one fixed
    * float expression over them (identical in both engines, so even the
    * chi2-ORDERED top-K hash-matches); the frequency floor is an integer
    * predicate. Nothing document-sized shuffles — only (term, counts).
    */
  /** Bigram-LM quality scoring (q264) — the classic LM perplexity filter
    * (CCNet-style): train an add-one-smoothed bigram model on one half of
    * the corpus (doc_id parity, q259's era split), score the other half,
    * and report per-source mean negative log-likelihood — high NLL = text
    * unlike the reference distribution (the quality signal length/punct
    * heuristics in q32 can't see).
    *
    * Numeric parity (the q223 ln lesson, applied): each bigram's
    * `−ln((c₂+1)∕(c₁+V))` is one fixed float expression over exact integer
    * counts — identical in both engines — then 6-dp-rounded and summed as
    * DECIMAL(18,6), so the cross-row total is EXACT and order-free; the
    * only remaining float op is the final mean division, rounded once.
    *
    * Scale shape: the scoring join moves skinny (w1, w2, doc, source) rows
    * shuffled on the bigram key against the bigram-count table (same key —
    * one co-hashed join); the unigram table is vocabulary-sized and rides a
    * broadcast; V is a driver scalar from one count. OOV mass is explicit:
    * `oov_rate` = share of scored bigrams whose history w1 never appeared
    * in training (their probability is the uniform 1∕V floor).
    */
  def bigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), words(col("text")).as("ws"),
        pmod(col("doc_id"), lit(2L)).as("era"))
    // guard size<2: Spark's sequence(1, 0) DESCENDS ([1, 0]) where DuckDB's
    // generate_series(1, 0) is empty — a one-word doc must yield no bigrams
    val bigrams = expr(
      """CASE WHEN size(ws) < 2 THEN CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)
        |ELSE transform(sequence(1, size(ws) - 1),
        |       i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2)) END""".stripMargin)
    val train = base.filter(col("era") === 0L)
    val c2 = train.select(explode(bigrams).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = train.select(explode(col("ws")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    // V = training unigram type count — a driver scalar (one tiny agg)
    val v = train.select(explode(col("ws")).as("w")).agg(countDistinct(col("w"))).head.getLong(0)
    val nll6 = OracleMath.stableRound(
      -log((coalesce(col("c2"), lit(0L)).cast("double") + lit(1.0)) /
        (coalesce(col("c1"), lit(0L)).cast("double") + lit(v.toDouble))), 6)
    base.filter(col("era") === 1L)
      .select(col("doc_id"), col("source"), explode(bigrams).as("b"))
      .select(col("doc_id"), col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .join(c2, Seq("w1", "w2"), "left")
      .join(broadcast(c1), Seq("w1"), "left")
      .select(col("doc_id"), col("source"),
        nll6.cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("nll6"),
        when(col("c1").isNull, 1L).otherwise(0L).as("oov"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"),
        sum(col("oov")).as("n_oov"),
        sum(col("nll6")).as("sum_nll"))
      .select(col("source"), col("n_docs"), col("n_bigrams"), col("n_oov"),
        OracleMath.stableRound(
          col("sum_nll").cast("double") / col("n_bigrams").cast("double"), 4).as("mean_nll"),
        OracleMath.stableRound(
          col("n_oov").cast("double") / col("n_bigrams").cast("double"), 4).as("oov_rate"))
      .orderBy(col("source"))
  }

  val bigramLmScoreOracle: String =
    s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws, doc_id % 2 AS era
       |           FROM documents),
       |tb AS (SELECT ws[i] AS w1, ws[i + 1] AS w2 FROM
       |         (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
       |          FROM d WHERE era = 0)),
       |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM tb GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM
       |         (SELECT unnest(ws) AS w1 FROM d WHERE era = 0) GROUP BY 1),
       |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM
       |        (SELECT unnest(ws) AS w FROM d WHERE era = 0)),
       |sb AS (SELECT doc_id, source, ws[i] AS w1, ws[i + 1] AS w2 FROM
       |         (SELECT doc_id, source, ws, unnest(generate_series(1, len(ws) - 1)) AS i
       |          FROM d WHERE era = 1)),
       |scored AS (
       |  SELECT sb.doc_id, sb.source,
       |    CAST(${OracleMath.stableRoundSql(
           "-ln((CAST(coalesce(c2.c2, 0) AS DOUBLE) + 1.0) / (CAST(coalesce(c1.c1, 0) AS DOUBLE) + CAST(v.v AS DOUBLE)))", 6)}
       |      AS DECIMAL(18,6)) AS nll6,
       |    CASE WHEN c1.c1 IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM sb LEFT JOIN c2 ON sb.w1 = c2.w1 AND sb.w2 = c2.w2
       |          LEFT JOIN c1 ON sb.w1 = c1.w1
       |          CROSS JOIN v)
       |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_bigrams,
       |  CAST(sum(oov) AS BIGINT) AS n_oov,
       |  ${OracleMath.stableRoundSql("CAST(sum(nll6) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS mean_nll,
       |  ${OracleMath.stableRoundSql("CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS oov_rate
       |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin

  def vocabDrift(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(pmod(col("doc_id"), lit(2L)).as("era"), explode(words(col("text"))).as("term"))
    val cells = terms.groupBy(col("term"))
      .agg(sum(when(col("era") === 0L, 1L).otherwise(0L)).as("e"),
        sum(when(col("era") === 1L, 1L).otherwise(0L)).as("l"))
      .filter(col("e") + col("l") >= VocabDriftMinFreq)
    val tot = terms.groupBy()
      .agg(sum(when(col("era") === 0L, 1L).otherwise(0L)).as("te"),
        sum(when(col("era") === 1L, 1L).otherwise(0L)).as("tl"))
    val expE = (col("e") + col("l")).cast("double") * col("te").cast("double") /
      (col("te") + col("tl")).cast("double")
    val expL = (col("e") + col("l")).cast("double") * col("tl").cast("double") /
      (col("te") + col("tl")).cast("double")
    val chi2 = (col("e").cast("double") - expE) * (col("e").cast("double") - expE) / expE +
      (col("l").cast("double") - expL) * (col("l").cast("double") - expL) / expL
    cells.crossJoin(tot)
      .withColumn("chi2", chi2)
      .orderBy(col("chi2").desc, col("term"))
      .limit(VocabDriftTopK)
      .select(col("term"), col("e").as("n_batch0"), col("l").as("n_batch1"),
        OracleMath.stableRound(col("chi2"), 6).as("chi2_r"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("chi2").desc, col("term"))).cast("long").as("rnk"))
      .orderBy(col("rnk"))
  }

  val vocabDriftOracle: String = {
    val expE = "CAST(e + l AS DOUBLE) * CAST(te AS DOUBLE) / CAST(te + tl AS DOUBLE)"
    val expL = "CAST(e + l AS DOUBLE) * CAST(tl AS DOUBLE) / CAST(te + tl AS DOUBLE)"
    val chi2 = s"(CAST(e AS DOUBLE) - ($expE)) * (CAST(e AS DOUBLE) - ($expE)) / ($expE) + " +
      s"(CAST(l AS DOUBLE) - ($expL)) * (CAST(l AS DOUBLE) - ($expL)) / ($expL)"
    s"""WITH t AS (SELECT doc_id % 2 AS era, unnest(string_split(text, ' ')) AS term
       |           FROM documents),
       |cells AS (SELECT term,
       |    CAST(sum(CASE WHEN era = 0 THEN 1 ELSE 0 END) AS BIGINT) AS e,
       |    CAST(sum(CASE WHEN era = 1 THEN 1 ELSE 0 END) AS BIGINT) AS l
       |  FROM t GROUP BY 1 HAVING sum(1) >= $VocabDriftMinFreq),
       |tot AS (SELECT CAST(sum(CASE WHEN era = 0 THEN 1 ELSE 0 END) AS BIGINT) AS te,
       |               CAST(sum(CASE WHEN era = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tl
       |        FROM t),
       |s AS (SELECT term, e, l, $chi2 AS chi2 FROM cells CROSS JOIN tot)
       |SELECT term, e AS n_batch0, l AS n_batch1,
       |  ${OracleMath.stableRoundSql("chi2", 6)} AS chi2_r,
       |  CAST(row_number() OVER (ORDER BY chi2 DESC, term) AS BIGINT) AS rnk
       |FROM s ORDER BY chi2 DESC, term LIMIT $VocabDriftTopK""".stripMargin
  }

  /** Cohen's kappa for the q31 language-ID classifier against the labeled
    * `lang` column — chance-corrected agreement, the model-eval statistic
    * beside raw accuracy (q208) and rate intervals (q209): a classifier
    * that always answers the majority label scores high accuracy but κ ≈ 0.
    * κ = (p₀ − pₑ)∕(1 − pₑ) with p₀ = agreement and pₑ = Σ_l row_l·col_l∕n²
    * — every input an exact integer from ONE conditional-aggregation scan
    * (truth marginals for labels the classifier never predicts multiply by
    * a zero column marginal, so the 3-label predictor against the 5-label
    * truth needs no special casing), and κ itself one fixed float
    * expression. No shuffle at all: scan → partial+final global aggregate.
    */
  def kappaLangId(spark: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    def score(stop: Seq[String]): Column =
      size(filter(ws, w => w.isInCollection(stop))).cast("long")
    val pred = when(score(enStop) >= score(deStop) && score(enStop) >= score(esStop), "en")
      .when(score(deStop) >= score(esStop), "de")
      .otherwise("es")
    val labels = Seq("en", "de", "es")
    val aggCols = Seq(count(lit(1)).as("n"),
      sum(when(col("lang") === col("pred"), 1L).otherwise(0L)).as("n_agree")) ++
      labels.flatMap(l => Seq(
        sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"true_$l"),
        sum(when(col("pred") === l, 1L).otherwise(0L)).as(s"pred_$l")))
    val cells = Tables.documents(spark, dir)
      .select(col("lang"), pred.as("pred"))
      .agg(aggCols.head, aggCols.tail: _*)
    val po = col("n_agree").cast("double") / col("n").cast("double")
    val pe = labels.map(l =>
        col(s"true_$l").cast("double") * col(s"pred_$l").cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
      .reduceLeft(_ + _)
    cells.select(
      (Seq(col("n"), col("n_agree")) ++
        labels.flatMap(l => Seq(col(s"true_$l"), col(s"pred_$l"))) ++
        Seq(OracleMath.stableRound(po, 6).as("po"),
          OracleMath.stableRound(pe, 6).as("pe"),
          OracleMath.stableRound((po - pe) / (lit(1.0) - pe), 6).as("kappa"))): _*)
  }

  /** Percentile-rank quality normalization — the feature transform that
    * makes q32's raw quality score comparable across corpora (rank-based
    * features are scale-free; mixture weights and trim thresholds transfer
    * between datasets where raw scores don't): each doc gets
    * `percent_rank = (#strictly-worse docs) ∕ (n − 1)` over the 4-dp
    * quality key.
    *
    * Scale shape (the q218 bounded-domain pattern): ranks live on the
    * ≤ 10001-cell quality domain — one corpus hash aggregate to per-cell
    * counts, a cumulative count over the constant-sized cells table, and a
    * broadcast join back. Docs never sort globally; ties share a rank by
    * construction (same cell ⇒ same cum_before).
    */
  def qualityPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = words(col("text"))
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"),
        floor(quality(ws) * 10000.0 + lit(0.5)).cast("long").as("q4"))
    val cells = scored.groupBy(col("q4")).agg(count(lit(1)).as("cnt"))
    val cw = Window.orderBy(col("q4")).rowsBetween(Window.unboundedPreceding, -1)
    val n = Window.partitionBy()
    val ranked = cells
      .withColumn("cum_before", coalesce(sum(col("cnt")).over(cw), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(n))
    scored.join(broadcast(ranked), "q4")
      .select(col("doc_id"),
        OracleMath.stableRound(col("q4").cast("double") / 10000.0, 4).as("quality_r"),
        OracleMath.stableRound(
          col("cum_before").cast("double") / (col("n") - 1).cast("double"), 6).as("pct_rank"))
      .orderBy(col("doc_id"))
  }

  val qualityPercentilesOracle: String =
    s"""WITH base AS (SELECT doc_id, $qualityColsSql
       |      FROM documents),
       |q AS (SELECT doc_id, CAST(floor($qualitySql * 10000.0 + 0.5) AS BIGINT) AS q4 FROM base),
       |cells AS (SELECT q4, count(*) AS cnt FROM q GROUP BY 1),
       |r AS (SELECT q4,
       |        CAST(coalesce(sum(cnt) OVER (ORDER BY q4
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
       |        CAST(sum(cnt) OVER () AS BIGINT) AS n
       |      FROM cells)
       |SELECT doc_id,
       |  ${OracleMath.stableRoundSql("CAST(q.q4 AS DOUBLE) / 10000.0", 4)} AS quality_r,
       |  ${OracleMath.stableRoundSql("CAST(cum_before AS DOUBLE) / CAST(n - 1 AS DOUBLE)", 6)} AS pct_rank
       |FROM q JOIN r USING (q4) ORDER BY doc_id""".stripMargin

  val kappaLangIdOracle: String = {
    val labels = Seq("en", "de", "es")
    val scoreSql = (stop: Seq[String]) =>
      s"len(list_filter(string_split(text, ' '), w -> list_contains([${stop.map("'" + _ + "'").mkString(", ")}], w)))"
    val po = "CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE)"
    val pe = labels.map(l =>
      s"CAST(true_$l AS DOUBLE) * CAST(pred_$l AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))")
      .mkString(" + ")
    val cellCols = labels.flatMap(l => Seq(
      s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS true_$l",
      s"CAST(sum(CASE WHEN pred = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS pred_$l")).mkString(",\n | ")
    s"""WITH p AS (SELECT lang,
       |    CASE WHEN ${scoreSql(enStop)} >= ${scoreSql(deStop)}
       |          AND ${scoreSql(enStop)} >= ${scoreSql(esStop)} THEN 'en'
       |         WHEN ${scoreSql(deStop)} >= ${scoreSql(esStop)} THEN 'de'
       |         ELSE 'es' END AS pred
       |  FROM documents),
       |cells AS (SELECT count(*) AS n,
       |    CAST(sum(CASE WHEN lang = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       | $cellCols
       |  FROM p)
       |SELECT n, n_agree, ${labels.flatMap(l => Seq(s"true_$l", s"pred_$l")).mkString(", ")},
       |  ${OracleMath.stableRoundSql(po, 6)} AS po,
       |  ${OracleMath.stableRoundSql(pe, 6)} AS pe,
       |  ${OracleMath.stableRoundSql(s"(($po) - ($pe)) / (1.0 - ($pe))", 6)} AS kappa
       |FROM cells""".stripMargin
  }

  /** Quality scoring: composite of length, stopword ratio and word-shape
    * signals (the filter stage of a training-data pipeline) — [[quality]]
    * beside its stopword-ratio input.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(ws).cast("long").as("n_tokens"),
        OracleMath.stableRound(stopRatio(ws), 4).as("stopword_ratio"),
        quality(ws).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Order-sensitive document fingerprint (rolling hash over the word
    * sequence): fold words, (acc*131 + wordHash(w)) % P. Reordered-but-equal
    * documents get different fingerprints (vs the set-based dedup keys in
    * [[DedupOps]]); identical prefixes share hash prefixes — the usual
    * content-defined-chunking building block.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        aggregate(words(col("text")), lit(0L), (acc, w) => (acc * 131 + wordHash(w)) % P).as("fp"))
      .orderBy(col("doc_id"))

  /** Subword token counting (BPE-ish): vowel-group chunks via a regex —
    * the cheap deterministic stand-in for a learned BPE vocabulary, giving
    * a per-document "LLM token" estimate alongside the whitespace count.
    */
  def subwordTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_words"),
        regexp_count(col("text"), lit("[^aeiou ]*[aeiou]+")).cast("long").as("n_subwords"))
      .orderBy(col("doc_id"))

  /** Order-preserving token stream: one row per (doc, position, word) via
    * `posexplode` — the tokenized-corpus layout a training pipeline feeds to
    * sequence packing / context-window chunking, where position matters
    * (plain `explode` loses it). Pure row amplification, no shuffle until a
    * consumer aggregates; at 100 TB this is the map-side of everything
    * downstream, never materialized whole.
    */
  def posTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word"))
      .orderBy(col("doc_id"), col("pos"))

  /** Term frequency across the corpus: explode → count. The one genuinely
    * shuffling text op (partial-agg map-side; ~vocabulary-size result).
    */
  def wordFreq(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("word"))
      .limit(100)

  /** Top bigrams by frequency, via the custom [[graft.functions.NGrams]]
    * generator (UDTF): order-preserving shingles that `explode` over the
    * distinct word set cannot produce. One generate + one shuffle on the
    * n-gram — at 100 TB the n-gram is the derived small key the count
    * aggregates on, with map-side partial aggregation.
    */
  def bigramFreq(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(graft.functions.VectorFunctions.ngrams(words(col("text")), 2).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("bigram"))
      .limit(20)
  }

  /** Sequence packing ("concat-and-chunk"): assign documents, in doc_id
    * order, to fixed-token-budget packs — pack id = ⌊running token count
    * before the doc / budget⌋, the layout step that turns a document corpus
    * into fixed-length training sequences.
    *
    * The interesting part at scale is the GLOBAL running sum: a naive
    * `Window.orderBy` with no partition key collapses the whole corpus into
    * ONE task. This uses [[PrefixSum]]'s two-pass distributed prefix sum
    * instead ([[cumTokens]]).
    */
  def packSequences(spark: SparkSession, dir: String, budget: Long = 512): DataFrame =
    cumTokens(spark, dir)
      .select(col("doc_id"), col("n_tokens"),
        expr(s"cum_before DIV $budget").as("pack_id"))
      .orderBy(col("doc_id"))

  /** (doc_id, n_tokens, cum_before) with the GLOBAL doc_id-ordered running
    * token count before each doc — the [[PrefixSum]] two-pass prefix sum
    * (exclusive = inclusive − own tokens), shared by q102's packing and the
    * q278 straddle curve.
    */
  private[ops] def cumTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tokens"))
    PrefixSum.cumSums(docs, Seq(col("doc_id")), Seq("tok" -> col("n_tokens")),
        PrefixSum.defaultParts(spark)).df
      .select(col("doc_id"), col("n_tokens"), (col("cum_tok") - col("n_tokens")).as("cum_before"))
  }

  /** Intra-document repetition (Gopher-style quality signal): the fraction
    * of word trigrams that duplicate an earlier trigram in the same document
    * — high values flag boilerplate / spam for a training-data filter.
    *
    * Trigrams come from zipping the token array with its two shifted copies
    * (`zip_with` pads the shorter side with null, `concat` nulls those out,
    * one `filter` drops them) — all per-row array kernels, evaluated once
    * per row under whole-stage codegen: no explode, no shuffle, so at 100 TB
    * this stays a pure map over the corpus scan. (Contrast posTokens/q91:
    * exploding then re-grouping by doc_id would shuffle every trigram.)
    */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    val n = size(ws)
    val bi = zip_with(ws, slice(ws, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val tri = filter(
      zip_with(bi, slice(ws, lit(3), greatest(n - 2, lit(0))),
        (a, b) => concat(a, lit(" "), b)),
      t => t.isNotNull)
    Tables.documents(spark, dir)
      .select(col("doc_id"), tri.as("tris"))
      .select(col("doc_id"),
        size(col("tris")).cast("long").as("n_tri"),
        size(array_distinct(col("tris"))).cast("long").as("n_uniq"))
      .withColumn("dup_ratio",
        when(col("n_tri") === 0L, lit(0.0))
          .otherwise(OracleMath.stableRound(
            lit(1.0) - col("n_uniq").cast("double") / col("n_tri"), 4)))
      .orderBy(col("doc_id"))
  }

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlRe   = "https?://[^ ]+"
  private val numRe   = "[0-9][0-9][0-9]+"

  /** PII redaction (the scrubbing stage of a training-data pipeline): mask
    * URLs, emails and 3+-digit runs with typed placeholder tokens and count
    * hits per category. The synthetic corpus text is clean words, so the
    * demo input appends a deterministic contact line derived from the row's
    * own keys — the operator under test is the regex chain itself, which is
    * pure, codegen'd and shuffle-free, and runs unchanged over raw text.
    * Replacement order matters (URL before email before digits: an email
    * inside a URL must already be gone); counts are taken on the pre-redaction
    * string so the categories don't mask each other.
    */
  def redactPii(spark: SparkSession, dir: String): DataFrame = {
    val dirty = concat(col("text"),
      lit(" reach user"), col("doc_id").cast("string"),
      lit("@mail.example.com or +1555"), col("n_chars").cast("string"),
      lit(" see https://ex.example.com/d/"), col("doc_id").cast("string"))
    val redacted = regexp_replace(
      regexp_replace(regexp_replace(dirty, urlRe, "<URL>"), emailRe, "<EMAIL>"),
      numRe, "<NUM>")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(dirty, lit(emailRe)).cast("long").as("n_email"),
        regexp_count(dirty, lit(urlRe)).cast("long").as("n_url"),
        regexp_count(dirty, lit(numRe)).cast("long").as("n_num"),
        length(redacted).cast("long").as("red_len"),
        substring(redacted, greatest(length(redacted) - 59, lit(1)).cast("int"), lit(60))
          .as("red_tail"))
      .orderBy(col("doc_id"))
  }

  /** Null-preserving generation: `explode_outer` keeps a row (with a null
    * token) for every document whose filtered token list is EMPTY — plain
    * `explode` silently drops those documents, the classic row-loss bug
    * when a generator feeds a per-document join downstream (the dropped
    * docs vanish from coverage stats). ~20% of this corpus has no ≥8-char
    * token, so the difference is substantial, and the oracle's
    * LEFT JOIN LATERAL unnest reproduces the null rows exactly.
    */
  def explodeOuterTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        filter(words(col("text")), w => length(w) >= 8).as("l"))
      .select(col("doc_id"), explode_outer(col("l")).as("w"))
      .orderBy(col("doc_id"), col("w").asc_nulls_first)

  /** Train/test contamination check (decontamination): for every held-out
    * document (deterministic split: doc_id % 10 = 0), the fraction of its
    * distinct word trigrams that also appear anywhere in the training split.
    * This is the benchmark-leakage audit every LLM data pipeline runs before
    * training — a test doc with high overlap was effectively memorized via
    * the training set and must be dropped.
    *
    * Shape at 100 TB: one generate pass per side (the custom order-preserving
    * [[graft.functions.NGrams]] shingle generator), a `distinct` on the
    * train-side gram set (map-side partial dedup), then ONE shuffle join on
    * the gram — the gram is a derived small key, so the join never moves
    * document bodies. Left join + count(hit) folds the per-gram hits
    * straight into the per-doc aggregate. At web scale the join key would be
    * `xxhash64(gram)` (8-byte shuffle keys; collisions ≪ 2⁻⁶⁴·n²) — kept as
    * the raw gram here for exact engine-portable semantics.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .filter(size(words(col("text"))) >= 3)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.ngrams(words(col("text")), 3).as("g"))
      .distinct() // per-document distinct gram SET (a doc repeating a gram counts once)
    val train = grams.filter(col("doc_id") % 10 =!= 0)
      .select(col("g")).distinct().withColumn("hit", lit(1L))
    grams.filter(col("doc_id") % 10 === 0)
      .join(train, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_contaminated"))
      .withColumn("ratio",
        OracleMath.stableRound(col("n_contaminated").cast("double") / col("n_grams"), 4))
      .orderBy(col("doc_id"))
  }

  /** Corpus-level boilerplate detection: a trigram is boilerplate when it
    * appears in more than 10% of all documents (headers, footers, templated
    * spans — the inter-document complement of q115's intra-document
    * repetition), and each document is scored by the fraction of its gram
    * OCCURRENCES covered by boilerplate grams (the Gopher-style
    * "duplicated n-gram mass" signal used to drop templated pages).
    *
    * Two aggregations over ONE persisted gram stream (document frequency
    * needs per-doc distinct; the coverage score needs raw occurrences), then
    * a broadcast semi-join: the boilerplate set is bounded by
    * total-gram-mass / (0.1·n_docs) ≤ 10× the mean grams-per-doc — a
    * dimension-sized table at any corpus scale, which is why the threshold
    * is a FRACTION (exact integer compare `df·10 > n_docs`, no float
    * boundary) rather than an absolute count that would stop pruning at
    * 100 TB.
    */
  def boilerplateGrams(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .filter(size(words(col("text"))) >= 3)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.ngrams(words(col("text")), 3).as("g"))
      .persistTracked()
    val total = grams.select(col("doc_id")).distinct().agg(count(lit(1)).as("n_docs"))
    val boiler = grams.distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .crossJoin(total)
      .filter(col("df") * 10 > col("n_docs"))
      .select(col("g")).withColumn("hit", lit(1L))
    grams.join(broadcast(boiler), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_boiler"))
      .withColumn("ratio",
        OracleMath.stableRound(col("n_boiler").cast("double") / col("n_grams"), 4))
      .orderBy(col("doc_id"))
  }

  /** Heavy hitters per source via the mergeable Misra-Gries sketch
    * ([[graft.functions.MisraGries]]) — the frequent-items member of the
    * mergeable family (q123 sums, q124/q138 distinct, q136/q137 quantiles):
    * each partition ships ≤ k counters per group instead of a word
    * histogram, and partials merge with the theorem-backed combined bound.
    * Counter values are merge-order dependent, so the oracle-checked output
    * is the MG THEOREM itself: for the exact top-3 words per source
    * (computed alongside, deterministic tie-break), the sketch estimate must
    * lie in [true − ⌊n/(k+1)⌋, true] (absent ⇒ 0). A broken sketch or a
    * broken merge violates the envelope and fails the driver's hash gate.
    */
  def heavyHitters(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(words(col("text"))).as("word"))
    val mg = toks.groupBy(col("source"))
      .agg(graft.functions.VectorFunctions.mg(col("word"), k).as("sk"),
        count(lit(1)).as("n"))
    val est = mg.select(col("source"), explode(col("sk")).as(Seq("word", "est")))
    val top3 = toks.groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt_exact"))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(desc("cnt_exact"), col("word"))))
      .filter(col("rk") <= 3)
    top3.join(mg.select(col("source"), col("n")), "source")
      .join(est, Seq("source", "word"), "left")
      .select(col("source"), col("word"), col("cnt_exact"),
        (coalesce(col("est"), lit(0L)) <= col("cnt_exact") &&
          coalesce(col("est"), lit(0L)) >= col("cnt_exact") - expr(s"n DIV ${k + 1}"))
          .as("mg_ok"))
      .orderBy(col("source"), col("word"))
  }

  /** Cross-document duplicated-span coverage — the distributed form of
    * exact-substring dedup (the "dedup by 50-token window" step of
    * training-data pipelines): a token position is COVERED when it lies in
    * any w-token window whose exact w-gram also occurs in ≥2 distinct
    * documents; per-doc output is the covered-token fraction (drop/trim
    * candidates at high coverage).
    *
    * Every step is a shuffle on a small derived key: positional w-grams
    * (pos carried through — slice windows over the token array, no
    * generator round-trip), cross-doc df with partial aggregation, a
    * semi-join back, then a ≤w× bounded explode + distinct to take the
    * UNION of overlapping covered intervals (position-set semantics make
    * interval merging a distinct, not a sweep line). Document bodies never
    * move. A suffix-array build (the single-node exact approach) cannot
    * shard this way; the fixed-w window form is the standard 100 TB
    * approximation.
    */
  def dupSpans(spark: SparkSession, dir: String, w: Int = 8): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .withColumn("n_tokens", size(col("ws")).cast("long"))
    val grams = base.filter(col("n_tokens") >= w)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0L), col("n_tokens") - w),
          i => struct(i.as("pos"),
            concat_ws(" ", slice(col("ws"), (i + 1).cast("int"), lit(w))).as("gram")))).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.gram").as("gram"))
    val dup = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select(col("gram"))
    val covered = grams.join(dup, "gram")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (w - 1))).as("idx"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    base.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        OracleMath.stableRound(
          coalesce(col("n_covered"), lit(0L)).cast("double") / col("n_tokens"), 4).as("ratio"))
      .orderBy(col("doc_id"))
  }

  /** Cross-document duplicated-span REMOVAL — the step after [[dupSpans]]'s
    * measurement: actually produce the cleaned corpus. Tokens covered by any
    * cross-document duplicated w-gram are cut; the surviving tokens (in
    * original order) form the cleaned text. Output per doc: token counts,
    * how many MAXIMAL spans were cut (consecutive covered tokens merge into
    * one span — the island grouping `idx − row_number()`), and the md5 of
    * the cleaned text, which both engines rebuild identically so the result
    * hash-matches without shipping document bodies through the compare.
    *
    * Plan shape at 100 TB: identical gram-key dataflow to q148 (the gram DF
    * table is the only corpus-sized intermediate; bodies never move), plus
    * one anti-join of positional tokens against covered indices and a
    * per-doc ordered reassembly — doc-keyed shuffles throughout. The
    * covered-index set is persisted: it feeds the span stats AND the
    * anti-join, and recomputing it would replay the gram join twice.
    */
  def spanRemoval(spark: SparkSession, dir: String, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .withColumn("n_tokens", size(col("ws")).cast("long"))
    val grams = base.filter(col("n_tokens") >= w)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0L), col("n_tokens") - w),
          i => struct(i.as("pos"),
            concat_ws(" ", slice(col("ws"), (i + 1).cast("int"), lit(w))).as("gram")))).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.gram").as("gram"))
    val dup = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select(col("gram"))
    val hits = grams.join(dup, "gram")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (w - 1))).as("idx"))
      .distinct()
      .persistTracked()
    val islands = hits
      .withColumn("grp",
        col("idx") - row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("idx"))))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("grp")).as("n_spans"), count(lit(1)).as("n_removed"))
    val toks = base
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("idx", "word")))
      .select(col("doc_id"), col("idx").cast("long").as("idx"), col("word"))
    val kept = toks.join(hits, Seq("doc_id", "idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("idx"), col("word")))).as("ps"))
      .select(col("doc_id"), concat_ws(" ", expr("transform(ps, p -> p.word)")).as("cleaned"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(islands, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        md5(coalesce(col("cleaned"), lit(""))).as("cleaned_md5"))
      .orderBy(col("doc_id"))
  }

  /** Bounded round count for [[spanRemovalFixpoint]] — single source for the
    * Scala default AND the unrolled oracle twin. 4 is generous: the testdata
    * converges in 2 (spec-measured); a corpus that hasn't converged by 4
    * still gets the IDENTICAL 4-round answer from both engines (each round
    * past convergence is the identity), so oracle equality never depends on
    * convergence.
    */
  val SpanFixpointRounds = 4

  /** Iterate-to-fixpoint duplicated-span removal — [[spanRemoval]] repeated
    * until the corpus is clean: ONE removal pass can itself create new
    * cross-document duplicate w-grams (cutting a span makes previously
    * distant tokens adjacent, and the new juncture grams can collide across
    * docs), so a single pass leaves duplicated text behind. Each round
    * recomputes duplicated grams (df ≥ 2) on the CURRENT corpus and cuts all
    * covered tokens; the loop stops early when a round finds no duplicated
    * gram (the fixpoint — every later round is the identity) and is bounded
    * by `maxRounds` so an adversarial corpus can't run away. Output per doc:
    * original tokens, total removed, how many rounds touched the doc, and
    * md5 of the final text (both engines rebuild the identical string — the
    * q151 whole-corpus verification pattern).
    *
    * Plan shape at 100 TB: per round, the same gram-keyed dataflow as q151
    * (bodies never shuffle; gram DF table is the only corpus-sized
    * intermediate), then tokens are rebuilt ONLY for docs the round touched
    * (semi-join on the hit set). `localCheckpoint` per round cuts the
    * otherwise-exponential lineage (the CC-loop lesson: checkpoint what the
    * next round reads twice). Rounds are data-dependent but small — each
    * round needs a fresh global DF count, which no single-pass plan can
    * express; this is the honest iterative shape, like connected components.
    */
  def spanRemovalFixpoint(spark: SparkSession, dir: String, w: Int = 8,
      maxRounds: Int = SpanFixpointRounds): DataFrame =
    spanRemovalFixpointOn(
      Tables.documents(spark, dir).select(col("doc_id"), words(col("text")).as("ws")),
      w, maxRounds)

  /** Frame-parametric core of [[spanRemovalFixpoint]] (exposed for the
    * convergence spec, which runs it over a crafted corpus where round 1
    * provably creates a new cross-doc duplicate gram).
    */
  private[graft] def spanRemovalFixpointOn(base0: DataFrame, w: Int,
      maxRounds: Int): DataFrame = {
    val base = base0
      .select(col("doc_id"), col("ws"), size(col("ws")).cast("long").as("n_tokens"),
        lit(0L).as("n_removed"), lit(0L).as("n_rounds_touched"))
      .checkpointTracked()
    // one doc frame → its (doc_id, pos, gram) rows — the round's expensive
    // projection (per-doc explode + w-word concat)
    def gramsOf(df: DataFrame): DataFrame = df.filter(size(col("ws")) >= w)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0L), size(col("ws")).cast("long") - w),
          i => struct(i.as("pos"),
            concat_ws(" ", slice(col("ws"), (i + 1).cast("int"), lit(w))).as("gram")))).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.gram").as("gram"))
    var cur = base
    // The gram table is CARRIED across rounds (r11 round-economy): a doc the
    // round did not touch keeps its token array, hence exactly its gram
    // rows — recomputing the explode+concat for the whole corpus every
    // round paid the round's dominant cost for rows that provably cannot
    // change (and the old lazy `grams` re-derived it TWICE per round: once
    // under the df groupBy, once under the hits join). Cached, not
    // checkpointed: an eager checkpoint would WRITE the wide gram strings
    // every round, which measured slower than the recompute it saves; the
    // cache fills on the round's first action and the previous generation
    // is released as soon as the next is materialized.
    var grams = gramsOf(cur).persistTracked()
    // materialize generation 1 EAGERLY (r14): the first round's action plan
    // references `grams` twice (the df agg subtree and the hits join side),
    // and AQE runs those shuffle stages CONCURRENTLY — on a cold cache both
    // race to build it and the expensive explode+concat projection runs
    // twice (measured: two parallel ~1 s jobs doing identical work). One
    // count fills the cache once; every later generation already does this.
    grams.count()
    // FRONTIER dup detection (rounds ≥ 2): a new duplicated gram must have
    // ≥ 1 occurrence in a doc the previous round REBUILT. Proof: a doc left
    // untouched by round r contains no round-r duplicated gram (hits cover
    // every occurrence of every dup gram, and any doc holding one is
    // touched), so two still-untouched docs sharing a gram in round r+1
    // would already have shared it in round r — with df ≥ 2 — and both
    // would have been touched. Contradiction. So the round-r+1 df scan only
    // needs grams whose VALUE occurs in a rebuilt doc: the carried table is
    // semi-joined on the (small) frontier gram set instead of re-aggregated
    // wholesale, and the CONFIRMING round (the one that finds nothing)
    // reads mostly-persisted data instead of re-deriving the corpus.
    var frontier: DataFrame = null // null = round 1, everything is new
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val dupBase = if (frontier == null) grams
        else grams.join(frontier.select(col("gram")).distinct(), Seq("gram"), "left_semi")
      val dup = dupBase.groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2).select(col("gram"))
      val hits = grams.join(dup, "gram")
        .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (w - 1))).as("idx"))
        .distinct()
        .persistTracked()
      val rem = hits.groupBy(col("doc_id")).agg(count(lit(1)).as("rr"))
      // count(), not isEmpty() (r14): isEmpty is a limit-1 that materializes
      // ONE cache partition; the rebuild's three concurrent AQE stages then
      // raced to fill the rest, re-running the hits distinct in parallel.
      // A full count fills the cache in one job and the branch is the same.
      if (hits.count() == 0L) {
        converged = true
        hits.unpersist()
      } else {
        // rebuild tokens ONLY for touched docs (semi-join on the hit set);
        // untouched docs carry their array through the left join unchanged
        val touchedToks = cur.join(rem.select(col("doc_id")), "doc_id")
          .select(col("doc_id"), posexplode(col("ws")).as(Seq("idx", "word")))
          .select(col("doc_id"), col("idx").cast("long").as("idx"), col("word"))
        val kept = touchedToks.join(hits, Seq("doc_id", "idx"), "left_anti")
          .groupBy(col("doc_id"))
          .agg(array_sort(collect_list(struct(col("idx"), col("word")))).as("ps"))
          .select(col("doc_id"), expr("transform(ps, p -> p.word)").as("kept_ws"))
        val next = cur.join(rem, Seq("doc_id"), "left")
          .join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("rr").isNull, col("ws"))
              .otherwise(coalesce(col("kept_ws"), array().cast("array<string>"))).as("ws"),
            col("n_tokens"),
            (col("n_removed") + coalesce(col("rr"), lit(0L))).as("n_removed"),
            (col("n_rounds_touched") + when(col("rr").isNotNull, 1L).otherwise(0L))
              .as("n_rounds_touched"))
          .checkpointTracked()
        cur = next
        // carry untouched docs' gram rows verbatim; re-derive only rebuilt
        // docs (their positions shifted) — these ARE the next frontier
        val touched = rem.select(col("doc_id"))
        val newGrams = gramsOf(cur.join(touched, Seq("doc_id"), "left_semi"))
          .checkpointTracked()
        val prev = grams
        grams = prev.join(touched, Seq("doc_id"), "left_anti")
          .unionByName(newGrams)
          .persistTracked()
        grams.count() // materialize the new generation off the old cache
        prev.unpersist()
        hits.unpersist()
        frontier = newGrams
      }
      round += 1
    }
    grams.unpersist()
    cur.select(col("doc_id"), col("n_tokens"), col("n_removed"), col("n_rounds_touched"),
        md5(concat_ws(" ", col("ws"))).as("cleaned_md5"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end curation funnel — the whole training-data pipeline as ONE
    * lazy plan: exact dedup → word-set dedup → quality band → cross-doc
    * span removal → sequence packing, reported as a per-stage funnel
    * (units, tokens). This is the query a corpus curator actually runs to
    * see where the data goes; every stage reuses the semantics of its
    * standalone query (q35/q36/q32-band/q151/q102-style packing), and the
    * oracle composes the same stages as one CTE chain.
    *
    * Stage semantics (deterministic, engine-portable):
    *  1. raw           — all docs.
    *  2. exact_dedup   — keep min doc_id per identical text.
    *  3. wordset_dedup — keep min doc_id per sorted-distinct word set.
    *  4. quality_band  — 10 ≤ tokens ≤ 2000 and mean word length ≤ 12
    *                     (integer compare: sum_chars ≤ 12·n_tokens, with
    *                     sum_chars = len(text) − (n − 1) on the
    *                     single-space corpus).
    *  5. span_removal  — q151's covered-token cut computed on the STAGE-4
    *                     SURVIVORS (dedup before span removal, the real
    *                     pipeline order); docs emptied by the cut drop out.
    *  6. packed_512    — concatenation packing: units = ⌈Σ kept / 512⌉
    *                     (boundary-agnostic LLM-pretraining packing; the
    *                     doc-boundary-respecting variant is q102).
    *
    * Scale shape: stages 2-4 are doc/text-keyed shuffles; stage 5 is the
    * q151 gram dataflow on the shrunken survivor set; the funnel rows are
    * six tiny aggregates unioned — no stage materializes more than the
    * standalone queries do.
    */
  def curationFunnel(spark: SparkSession, dir: String, w: Int = 8,
                     seqLen: Long = PackSeqLen): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), words(col("text")).as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))
      .persistTracked()
    val d2 = raw
      .withColumn("m", min(col("doc_id")).over(Window.partitionBy(col("text"))))
      .filter(col("doc_id") === col("m")).drop("m")
    val d3 = d2
      .withColumn("m", min(col("doc_id"))
        .over(Window.partitionBy(array_sort(array_distinct(col("ws"))))))
      .filter(col("doc_id") === col("m")).drop("m")
    val d4 = d3
      .filter(col("n").between(10L, 2000L)
        && (length(col("text")) - (col("n") - 1)) <= lit(12L) * col("n"))
      .persistTracked()
    val grams = d4.filter(col("n") >= w)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0L), col("n") - w),
          i => struct(i.as("pos"),
            concat_ws(" ", slice(col("ws"), (i + 1).cast("int"), lit(w))).as("gram")))).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.gram").as("gram"))
    val dup = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select(col("gram"))
    val covered = grams.join(dup, "gram")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (w - 1))).as("idx"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    val kept = d4.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), (col("n") - coalesce(col("n_covered"), lit(0L))).as("nk"))
    def stage(id: Int, name: String, df: DataFrame, units: Column, toks: Column): DataFrame =
      df.agg(units.as("n_units"), toks.as("n_tokens"))
        .select(lit(id.toLong).as("stage_id"), lit(name).as("stage"),
          col("n_units"), col("n_tokens"))
    stage(1, "raw", raw, count(lit(1)), sum(col("n")))
      .unionByName(stage(2, "exact_dedup", d2, count(lit(1)), sum(col("n"))))
      .unionByName(stage(3, "wordset_dedup", d3, count(lit(1)), sum(col("n"))))
      .unionByName(stage(4, "quality_band", d4, count(lit(1)), sum(col("n"))))
      .unionByName(stage(5, "span_removal", kept,
        sum(when(col("nk") > 0L, 1L).otherwise(0L)), sum(col("nk"))))
      .unionByName(stage(6, s"packed_$seqLen", kept,
        expr(s"(sum(nk) + ${seqLen - 1}L) DIV ${seqLen}L"), sum(col("nk"))))
      .orderBy(col("stage_id"))
  }

  // ---------------------------------------------------------------------------
  // q162: BPE merge-rule learning (K rounds of pair-count → argmax → merge)
  // ---------------------------------------------------------------------------

  val BpeRounds = 8

  /** Symbol-boundary marker for the BPE rendering. Never occurs in corpus
    * words (the synthetic vocabulary is `[a-z]`), so a symbol can never
    * contain it.
    */
  private val M = "·" // '·'

  /** Byte-pair-encoding merge-rule learning: starting from characters, run
    * `BpeRounds` rounds of (count adjacent symbol pairs over the weighted
    * word dictionary → pick the most frequent pair → merge it everywhere) —
    * the exact inner loop of BPE tokenizer training.
    *
    * Plan shape for 100 TB: ONE corpus pass reduces the text to a
    * vocabulary-sized (word, count) dictionary — every merge round after
    * that runs on the dictionary, never the corpus (precisely how production
    * BPE trainers scale). Each round is one explode + one tiny pair-count
    * shuffle + a 1-row argmax collect (bounded driver data, the vocab-probe
    * pattern), and the merge application is a single codegen'd `replace`.
    *
    * The boundary-marked rendering `·a··b··c·` (one marker before/after each
    * symbol, doubled between) makes `replace('·a··b·' → '·ab·')` EXACTLY
    * greedy left-to-right non-overlapping merge application in both engines:
    * a match must align on whole symbols (symbols never contain the marker),
    * and consecutive pairs don't share a boundary character, so `a b a b`
    * merges to `ab ab`, while `a a a` merges to `aa a` — standard BPE
    * semantics.
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainBpe(spark, dir).toDF("round", "sym_a", "sym_b", "merged", "freq")
  }

  /** The training loop behind [[bpeMerges]]/[[bpeEncode]]: returns the
    * learned merge rules in application order.
    */
  private def trainBpe(spark: SparkSession, dir: String): Seq[(Long, String, String, String, Long)] = {
    val dict0 = Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
      .select(col("wcnt"),
        concat(lit(M), array_join(split(col("word"), ""), M + M), lit(M)).as("r"))
      .persistTracked()

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var dict = dict0
    for (round <- 1 to BpeRounds) {
      val syms = split(trim(col("r"), M), M + M)
      val pairs = dict.select(col("wcnt"), syms.as("s"))
        .select(col("wcnt"),
          explode(when(size(col("s")) >= 2,
            transform(sequence(lit(1), size(col("s")) - 1),
              i => concat(element_at(col("s"), i), lit(M), element_at(col("s"), i + 1))))
            .otherwise(array().cast("array<string>"))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wcnt")).as("cnt"))
      // bounded-collect: limit(1) argmax — exactly one row per BPE round
      val top = pairs.orderBy(desc("cnt"), col("pair")).limit(1).collect()(0)
      val Array(a, b) = top.getAs[String]("pair").split(M)
      merges += ((round.toLong, a, b, a + b, top.getAs[Long]("cnt")))
      dict = dict.withColumn("r",
        expr(s"replace(r, '$M$a$M$M$b$M', '$M$a$b$M')"))
    }
    dict0.unpersist()
    merges.toSeq
  }

  /** BPE encoding of the corpus with the rules [[trainBpe]] just learned —
    * the tokenizer's APPLY step, reported as per-document subword counts and
    * chars-per-token (the "fertility" a tokenizer is judged by).
    *
    * Plan shape for 100 TB: the distinct-word DICTIONARY is encoded once
    * (vocabulary-sized — the 8 chained replace()s run per distinct word, not
    * per occurrence) and broadcast-joined back to the exploded token stream —
    * the same distinct-keys-then-map-back shape as the reference's classifier
    * enrichment (`dag/vacancy_pipline_gpt_rerty.py:384-396`), which is what
    * makes per-occurrence work O(vocab) instead of O(corpus).
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val rules = trainBpe(spark, dir)
    val rendered = concat(lit(M), array_join(split(col("word"), ""), M + M), lit(M))
    val applied = rules.foldLeft(rendered) { case (c, (_, a, b, _, _)) =>
      call_function("replace", c, lit(s"$M$a$M$M$b$M"), lit(s"$M$a$b$M"))
    }
    // persisted so the size-gate's count and the encode join share one
    // materialization of the per-word replace() chain
    val encDict = Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("word")).distinct()
      .select(col("word"),
        size(split(trim(applied, M), M + M)).cast("long").as("n_sub"))
      .persistTracked()

    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .join(Joins.broadcastIfFits(encDict, encDict.count() * DedupOps.DictRowBytes), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_subwords"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .withColumn("chars_per_token",
        OracleMath.stableRound(col("n_chars").cast("double") / col("n_subwords"), 4))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------------

  /** The unrolled BPE-training CTE chain shared by the q162 and q163 oracle
    * twins: each round's argmax pair is a 1-row CTE (`m$k`) the next round's
    * replace() consumes — same dictionary, same rendering, same tie-break
    * (cnt DESC, pair ASC) as [[bpeMerges]].
    */
  private def bpeTrainCtes: String = {
    val dictCte =
      s"""w AS (SELECT word, count(*) AS wcnt FROM (
         |       SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY 1),
         |d0 AS (SELECT word, wcnt, '$M' || array_to_string(string_split(word, ''), '$M$M') || '$M' AS r FROM w)""".stripMargin
    def roundCtes(k: Int): String =
      s"""p$k AS (SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt FROM (
         |  SELECT wcnt, unnest(CASE WHEN len(s) >= 2
         |    THEN list_transform(generate_series(1, len(s) - 1), i -> s[i] || '$M' || s[i+1])
         |    ELSE []::VARCHAR[] END) AS pair
         |  FROM (SELECT wcnt, string_split(trim(r, '$M'), '$M$M') AS s FROM d${k - 1}))
         | GROUP BY 1),
         |m$k AS (SELECT pair, cnt, string_split(pair, '$M')[1] AS a, string_split(pair, '$M')[2] AS b
         |        FROM p$k ORDER BY cnt DESC, pair LIMIT 1),
         |d$k AS (SELECT word, wcnt, replace(r, '$M' || a || '$M$M' || b || '$M', '$M' || a || b || '$M') AS r
         |        FROM d${k - 1}, m$k)""".stripMargin
    dictCte + ",\n" + (1 to BpeRounds).map(roundCtes).mkString(",\n")
  }

  /** Per-source token budget for [[budgetTrim]] — single source for the
    * Scala default and the q183 twin.
    */
  val TrimBudgetTokens = 800L

  /** Greedy quality-ordered token-budget trim: within every source, keep
    * documents in DESCENDING quality order while the running token count
    * BEFORE each doc is under the budget (whole docs only — the last kept
    * doc may overshoot; that convention is what makes the cut integer-exact
    * and engine-identical). The token-budget knob a curation pipeline turns
    * when quality — not doc count (q150's apportionment) — decides what
    * survives.
    *
    * Scale shape: quality is row-local (the q32 expression); the running
    * sum is a window PARTITIONED by source (parallel across sources, unlike
    * a global cumsum — the q102 two-pass trick applies if one source
    * dominates); ordering is (4-dp quality desc, doc_id), fully
    * deterministic in both engines.
    */
  def budgetTrim(spark: SparkSession, dir: String,
                 budget: Long = TrimBudgetTokens): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = words(col("text"))
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(ws).cast("long").as("n_tokens"),
        quality(ws).as("quality_r"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality_r").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    scored
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") < budget)
      .select(col("source"), col("doc_id"), col("quality_r"), col("n_tokens"),
        (col("cum_before") + col("n_tokens")).as("cum_tokens"))
      .orderBy(col("source"), col("quality_r").desc, col("doc_id"))
  }

  /** Cross-source token-budget allocation — the training-data MIXING op on
    * top of q183's within-source trim: sources are ranked by mean document
    * quality and a global budget (half the corpus's tokens — derived from
    * the data, no magic constant) is filled greedily down the ranking:
    * `allocated = clamp(budget − tokens_taken_by_better_sources, 0, avail)`.
    * Numeric discipline: per-doc quality is the 4-dp-rounded q183 score,
    * summed as DECIMAL(12,4) (exact, order-free) before the one per-source
    * mean division; token counts and the greedy fill are pure integer
    * window arithmetic. The ranking window is unpartitioned but runs on
    * the SOURCES table — constant-size at any corpus scale.
    */
  def mixAllocation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = words(col("text"))
    val perSource = Tables.documents(spark, dir)
      .select(col("source"), size(ws).cast("long").as("n_tokens"),
        quality(ws).cast(org.apache.spark.sql.types.DecimalType(12, 4)).as("q"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("avail_tokens"),
        sum(col("q")).as("q_sum"))
    val rankW = Window.orderBy(
      (col("q_sum").cast("double") / col("n_docs")).desc, col("source"))
    val cumW = rankW.rowsBetween(Window.unboundedPreceding, -1)
    val totW = Window.partitionBy()
    perSource
      .withColumn("fill_rank", row_number().over(rankW).cast("long"))
      // integer floor division on the long sum (matches the oracle's `// 2`
      // exactly at any magnitude — a double `/ 2` then cast would lose
      // exactness past 2^53)
      .withColumn("tot_tokens", sum(col("avail_tokens")).over(totW))
      .withColumn("budget", expr("tot_tokens DIV 2"))
      .withColumn("cum_before", coalesce(sum(col("avail_tokens")).over(cumW), lit(0L)))
      .select(col("source"), col("fill_rank"), col("n_docs"), col("avail_tokens"),
        OracleMath.stableRound(col("q_sum").cast("double") / col("n_docs"), 6)
          .as("mean_quality"),
        greatest(lit(0L), least(col("avail_tokens"), col("budget") - col("cum_before")))
          .as("allocated_tokens"))
      .orderBy(col("fill_rank"))
  }

  val mixAllocationOracle: String =
    s"""WITH base AS (SELECT source, $qualityColsSql
       |      FROM documents),
       |q AS (SELECT source, n_tok,
       |       CAST($qualitySql AS DECIMAL(12,4)) AS qr
       |      FROM base),
       |s AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS avail_tokens,
       |        sum(qr) AS q_sum
       |      FROM q GROUP BY 1),
       |r AS (SELECT *,
       |        CAST(row_number() OVER w AS BIGINT) AS fill_rank,
       |        CAST(sum(avail_tokens) OVER () // 2 AS BIGINT) AS budget,
       |        CAST(coalesce(sum(avail_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |      FROM s
       |      WINDOW w AS (ORDER BY CAST(q_sum AS DOUBLE) / n_docs DESC, source))
       |SELECT source, fill_rank, n_docs, avail_tokens,
       |  ${OracleMath.stableRoundSql("CAST(q_sum AS DOUBLE) / n_docs", 6)} AS mean_quality,
       |  greatest(CAST(0 AS BIGINT), least(avail_tokens, budget - cum_before)) AS allocated_tokens
       |FROM r ORDER BY fill_rank""".stripMargin

  /** Canonical-representative selection per duplicate group — the curation
    * step AFTER dedup detection: q36/q160's wordset-group identity keyed by
    * its md5 (32-byte shuffle key, never text — the r5 dedupExact lesson),
    * and within each multi-member group the KEPT doc is the quality argmax
    * (4-dp q183 score, doc_id tie-break) instead of q36's min-doc_id — "keep
    * the best duplicate", which is what a training-corpus dedup actually
    * wants. Emits per group: canonical doc + quality, and the doc/token
    * volume the drop reclaims. One keyed shuffle of (md5, id, tokens,
    * quality) rows; groups of size 1 are filtered before the rollup.
    */
  def canonicalPick(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = words(col("text"))
    val wkey = wordSetKey(col("text"))
    val scored = Tables.documents(spark, dir)
      .select(wkey.as("wkey"), col("doc_id"), size(ws).cast("long").as("n_tokens"),
        quality(ws).as("quality_r"))
    val pick = Window.partitionBy(col("wkey")).orderBy(col("quality_r").desc, col("doc_id"))
    scored
      .withColumn("rn", row_number().over(pick))
      .withColumn("gsz", count(lit(1)).over(Window.partitionBy(col("wkey"))))
      .filter(col("gsz") > 1)
      .groupBy(col("wkey"))
      .agg(max(col("gsz")).as("group_size"),
        max(when(col("rn") === 1, col("doc_id"))).as("canonical_doc"),
        max(when(col("rn") === 1, col("quality_r"))).as("canonical_quality"),
        coalesce(sum(when(col("rn") > 1, col("n_tokens"))), lit(0L)).as("reclaimed_tokens"))
      .orderBy(col("wkey"))
  }

  val canonicalPickOracle: String =
    s"""WITH base AS (SELECT doc_id, $qualityColsSql,
       |       $wordSetKeySql AS wkey
       |      FROM documents),
       |q AS (SELECT wkey, doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       |       $qualitySql AS quality_r
       |      FROM base),
       |r AS (SELECT *, row_number() OVER (PARTITION BY wkey ORDER BY quality_r DESC, doc_id) AS rn,
       |        count(*) OVER (PARTITION BY wkey) AS gsz
       |      FROM q)
       |SELECT wkey, CAST(max(gsz) AS BIGINT) AS group_size,
       |  max(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
       |  max(CASE WHEN rn = 1 THEN quality_r END) AS canonical_quality,
       |  CAST(coalesce(sum(CASE WHEN rn > 1 THEN n_tokens END), 0) AS BIGINT) AS reclaimed_tokens
       |FROM r WHERE gsz > 1 GROUP BY 1 ORDER BY wkey""".stripMargin

  /** Pareto-frontier (skyline) document selection — docs not DOMINATED in
    * (quality ↑, token cost ↓): the multi-objective curation cut that no
    * single weighted score (q183/q210) can express, because the frontier
    * adapts to the data's own trade-off curve. Computed in O(n), not the
    * naive N² dominance anti-join: a doc survives iff it is shorter than
    * EVERY strictly-higher-quality doc and minimal within its own quality
    * tie group, and both thresholds live on the BOUNDED 4-dp quality
    * domain (≤ 10001 cells) — one corpus hash aggregate to per-cell min
    * lengths, a cumulative min over the constant-sized cells table, and a
    * broadcast join back. Nothing corpus-sized is ever globally sorted.
    */
  def paretoDocs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = words(col("text"))
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), size(ws).cast("long").as("n_tokens"),
        // floor(x·10⁴ + 0.5): Spark's long cast TRUNCATES and DuckDB's
        // ROUNDS — the explicit half-up floor is the one shape both agree on
        floor(quality(ws) * 10000.0 + lit(0.5)).cast("long").as("q4"))
    // dominance thresholds live on the BOUNDED q4 domain (4-dp quality in
    // [0,1] ⇒ ≤ 10001 distinct cells): per-q4 min length is one hash
    // aggregate over the corpus; the strict-preceding cumulative min then
    // runs on the cells table (constant-bounded — never a corpus-sized
    // unpartitioned window), and the verdict joins back by broadcast.
    // Identical semantics to a RANGE frame over the raw rows: min over
    // strictly-better docs = cumulative min of per-cell mins strictly
    // before in q4-descending order.
    val cells = scored.groupBy(col("q4")).agg(min(col("n_tokens")).as("min_same"))
    val cw = Window.orderBy(col("q4").desc).rowsBetween(Window.unboundedPreceding, -1)
    val thresholds = cells.withColumn("min_better", min(col("min_same")).over(cw))
    scored
      .join(broadcast(thresholds), "q4")
      .filter((col("min_better").isNull || col("n_tokens") < col("min_better")) &&
        col("n_tokens") === col("min_same"))
      .select(col("doc_id"),
        OracleMath.stableRound(col("q4").cast("double") / 10000.0, 4).as("quality_r"),
        col("n_tokens"))
      .orderBy(col("quality_r").desc, col("doc_id"))
  }

  val paretoDocsOracle: String =
    s"""WITH base AS (SELECT doc_id, $qualityColsSql
       |      FROM documents),
       |q AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       |       CAST(floor($qualitySql * 10000.0 + 0.5) AS BIGINT) AS q4
       |      FROM base),
       |m AS (SELECT *,
       |        min(n_tokens) OVER (ORDER BY q4 DESC
       |          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_better,
       |        min(n_tokens) OVER (PARTITION BY q4) AS min_same
       |      FROM q)
       |SELECT doc_id,
       |  ${OracleMath.stableRoundSql("CAST(q4 AS DOUBLE) / 10000.0", 4)} AS quality_r,
       |  n_tokens
       |FROM m
       |WHERE (min_better IS NULL OR n_tokens < min_better) AND n_tokens = min_same
       |ORDER BY quality_r DESC, doc_id""".stripMargin

  /** Posting-list delta-varint compression estimate — the storage-planning
    * number behind every inverted index (q157 scores with postings; THIS
    * prices them): per frequent term, the byte cost of the sorted doc-id
    * list stored raw (8 B/id) vs delta-encoded varints (gaps between
    * consecutive sorted ids, 7 bits per byte — the Lucene/ES layout).
    * Everything is exact integer arithmetic: gaps from a lag window under
    * one term-keyed shuffle, varint size as a CASE ladder on gap
    * magnitude, first posting delta-encoded from id 0. The ratio column is
    * the compressibility signal: dense terms (small gaps) approach 1 B/id.
    */
  /** Single-sourced with the oracle's LIMIT (the q153 drift lesson). */
  val IndexCompressionTopK = 50

  def indexCompression(spark: SparkSession, dir: String,
                       topK: Int = IndexCompressionTopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(words(col("text")))).as("term"))
      .distinct()
    val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    val gapped = postings
      .withColumn("gap", col("doc_id") - coalesce(lag(col("doc_id"), 1).over(w), lit(0L)))
      .withColumn("vbytes", expr(
        """CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
          | WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4
          | ELSE 5 END""".stripMargin).cast("long"))
    gapped.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("vbytes")).as("varint_bytes"))
      .select(col("term"), col("df"), (col("df") * 8L).as("raw_bytes"), col("varint_bytes"),
        OracleMath.stableRound(
          col("varint_bytes").cast("double") / (col("df").cast("double") * 8.0), 4)
          .as("compression_ratio"))
      .orderBy(col("df").desc, col("term"))
      .limit(topK)
  }

  val indexCompressionOracle: String =
    s"""WITH p AS (SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
       |           FROM documents),
       |g AS (SELECT term, doc_id,
       |        doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id), 0) AS gap
       |      FROM p),
       |v AS (SELECT term,
       |        CAST(CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
       |             WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4
       |             ELSE 5 END AS BIGINT) AS vbytes
       |      FROM g),
       |s AS (SELECT term, count(*) AS df, CAST(sum(vbytes) AS BIGINT) AS varint_bytes
       |      FROM v GROUP BY 1)
       |SELECT term, df, df * 8 AS raw_bytes, varint_bytes,
       |  ${OracleMath.stableRoundSql("CAST(varint_bytes AS DOUBLE) / (CAST(df AS DOUBLE) * 8.0)", 4)} AS compression_ratio
       |FROM s ORDER BY df DESC, term LIMIT $IndexCompressionTopK""".stripMargin

  /** Proportional interleave schedule audit — q210 decides HOW MUCH of each
    * source to train on; this decides the ORDER: every source is paced
    * through the global schedule by the integer key
    * `(rank_in_source · corpus_total) DIV source_size` (a source with k
    * docs emits every total∕k positions — stride scheduling / WFQ virtual
    * time, exactly), and the audit checks the first
    * [[InterleaveAuditSlots]] slots contain each source in proportion to
    * its size (pacing error bounded by ±1 emission — the stride-scheduling
    * guarantee). Keys are pure integers, the global order is total
    * (key, source, rank), and at 100 TB the first-K cut is a
    * TakeOrdered-style bounded sort, not a global one.
    */
  val InterleaveAuditSlots = 200

  def interleaveAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = InterleaveAuditSlots
    // the global doc count rides a 1-row broadcast (a metadata-only parquet
    // count), never a corpus-sized `count() OVER ()` window
    val total = Tables.documents(spark, dir).agg(count(lit(1)).as("total"))
    val keyed = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("r", row_number()
        .over(Window.partitionBy(col("source")).orderBy(col("doc_id"))).cast("long"))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy(col("source"))))
      .crossJoin(total)
      .withColumn("slot_key", expr("(r * total) DIV n_src"))
    keyed.orderBy(col("slot_key"), col("source"), col("r")).limit(k)
      .groupBy(col("source"))
      .agg(max(col("n_src")).as("n_docs"), max(col("total")).as("n_total"),
        count(lit(1)).as("n_in_first"))
      .select(col("source"), col("n_docs"), col("n_in_first"),
        OracleMath.stableRound(
          col("n_in_first").cast("double") -
            lit(k.toDouble) * col("n_docs").cast("double") / col("n_total").cast("double"), 4)
          .as("pacing_error"))
      .orderBy(col("source"))
  }

  val interleaveAuditOracle: String =
    s"""WITH d AS (SELECT source, doc_id,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS r,
       |    count(*) OVER (PARTITION BY source) AS n_src,
       |    count(*) OVER () AS total
       |  FROM documents),
       |firstk AS (SELECT * FROM (
       |    SELECT source, r, n_src, total, (r * total) // n_src AS slot_key FROM d) x
       |  ORDER BY slot_key, source, r LIMIT $InterleaveAuditSlots)
       |SELECT source, CAST(max(n_src) AS BIGINT) AS n_docs, count(*) AS n_in_first,
       |  ${OracleMath.stableRoundSql(
          s"CAST(count(*) AS DOUBLE) - $InterleaveAuditSlots.0 * CAST(max(n_src) AS DOUBLE) / CAST(max(total) AS DOUBLE)", 4)} AS pacing_error
       |FROM firstk GROUP BY 1 ORDER BY source""".stripMargin

  /** Inter-source duplication overlap — which sources copy from each other:
    * for every source pair, the Jaccard overlap of their CONTENT-identITY
    * sets (q36's wordset md5 groups — 32-byte keys, never text). The
    * source-pair counts come from one distinct (source, wkey) table: the
    * pair join runs per wkey over the ≤ n_sources sources sharing it
    * (bounded fanout — a group shared by all 20 sources emits 190 pairs,
    * not corpus²), and per-source group counts are one more aggregate.
    * This is the provenance matrix a curation team reads before deciding
    * which source to drop — q213 says WHAT to keep per group; this says
    * WHO is duplicating WHOM.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val wkey = wordSetKey(col("text"))
    val sk = Tables.documents(spark, dir)
      .select(col("source"), wkey.as("wkey")).distinct()
    val perSource = sk.groupBy(col("source")).agg(count(lit(1)).as("n_groups"))
    val shared = sk.as("a").join(sk.as("b"),
        col("a.wkey") === col("b.wkey") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(perSource.select(col("source").as("source_a"), col("n_groups").as("g_a")), Seq("source_a"))
      .join(perSource.select(col("source").as("source_b"), col("n_groups").as("g_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"), col("g_a"), col("g_b"),
        OracleMath.stableRound(
          col("n_shared").cast("double") /
            (col("g_a") + col("g_b") - col("n_shared")).cast("double"), 6).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceOverlapOracle: String =
    s"""WITH sk AS (SELECT DISTINCT source,
       |    $wordSetKeySql AS wkey
       |  FROM documents),
       |ps AS (SELECT source, count(*) AS n_groups FROM sk GROUP BY 1),
       |sh AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
       |       FROM sk a JOIN sk b ON a.wkey = b.wkey AND a.source < b.source
       |       GROUP BY 1, 2)
       |SELECT source_a, source_b, n_shared, pa.n_groups AS g_a, pb.n_groups AS g_b,
       |  ${OracleMath.stableRoundSql(
          "CAST(n_shared AS DOUBLE) / CAST(pa.n_groups + pb.n_groups - n_shared AS DOUBLE)", 6)} AS jaccard
       |FROM sh JOIN ps pa ON pa.source = sh.source_a
       |        JOIN ps pb ON pb.source = sh.source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Vocabulary head/torso/tail segmentation — the Zipf-mass report that
    * sizes tokenizer vocabularies and embedding tables: terms sorted by
    * frequency, segmented at 50 % and 90 % of cumulative occurrence mass
    * (head = the few terms covering half the corpus; tail = the long
    * sparse rest). The segment predicate is INTEGER-exact —
    * `2·cum_before < total` (strictly-before mass under 50 %) and
    * `10·cum_before < 9·total` — no float mass fractions; the cumulative
    * sum runs over the vocabulary table via [[PrefixSum.cumSums]] (the
    * q102 two-pass distributed prefix sum — a web-scale vocabulary never
    * collapses into one partition's window). Per segment: term count,
    * occurrence mass, exact-integer bounds on where the cut fell.
    */
  def vocabSegments(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("f"))
    // web-scale vocabularies outgrow one partition's window: the cumulative
    // mass comes from the PrefixSum two-pass (range-partition on the
    // (freq DESC, term) rank order), and the grand total from the same
    // per-partition collect — no unpartitioned window anywhere
    val cum = PrefixSum.cumSums(freq, Seq(desc("f"), col("term")),
      Seq("f" -> col("f")), PrefixSum.defaultParts(spark))
    cum.df
      .withColumn("cum_before", col("cum_f") - col("f"))
      .withColumn("total", lit(cum.totals("f")))
      .withColumn("segment",
        when(col("cum_before") * 2 < col("total"), "1_head")
          .when(col("cum_before") * 10 < col("total") * 9, "2_torso")
          .otherwise("3_tail"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_terms"), sum(col("f")).as("occurrences"),
        min(col("f")).as("min_freq"), max(col("f")).as("max_freq"))
      .orderBy(col("segment"))
  }

  val vocabSegmentsOracle: String =
    s"""WITH f AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
       |freq AS (SELECT term, count(*) AS f FROM f GROUP BY 1),
       |c AS (SELECT term, f,
       |        coalesce(sum(f) OVER (ORDER BY f DESC, term
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
       |        sum(f) OVER () AS total
       |      FROM freq)
       |SELECT CASE WHEN cum_before * 2 < total THEN '1_head'
       |            WHEN cum_before * 10 < total * 9 THEN '2_torso'
       |            ELSE '3_tail' END AS segment,
       |  count(*) AS n_terms, CAST(sum(f) AS BIGINT) AS occurrences,
       |  min(f) AS min_freq, max(f) AS max_freq
       |FROM c GROUP BY 1 ORDER BY segment""".stripMargin

  /** Support gate for [[frequentPairs]]: an item/pair is frequent when it
    * appears in ≥ 1/20 (5%) of documents. Integer-exact predicate
    * (`df · 20 ≥ n_docs`), single-sourced with the oracle.
    */
  val PairSupportDenom = 20L

  /** Frequent co-occurring word-pair mining with a-priori support pruning —
    * the association-rule primitive (market-basket over documents: which
    * vocabulary co-occurs more than chance?). The a-priori monotonicity
    * (a frequent pair needs both members frequent) is applied BEFORE pair
    * expansion: the (doc, word) stream semi-joins the frequent-word table
    * first, so the quadratic within-doc self-join runs over frequent
    * members only — at 100 TB this gate is the difference between
    * |doc|² pair generation over a web vocabulary and over the (tiny)
    * frequent slice, which is exactly why A-priori exists. Output adds
    * lift = support·N / (df_a·df_b) — an integer-ratio double, rounded
    * stably.
    *
    * Plan shape: one df aggregate (map-side combined), a broadcast
    * semi-join gate, one doc_id-shuffled self-join whose expansion is
    * support-bounded, one pair aggregate. Set semantics per doc
    * (distinct words), as in q36.
    */
  def frequentPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), array_distinct(words(col("text"))).as("ws"))
    val tot = d.agg(count(lit(1)).as("n_docs"))
    val fw = d.select(col("doc_id"), explode(col("ws")).as("w"))
    val keep = fw.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .crossJoin(tot)
      .filter(col("df") * PairSupportDenom >= col("n_docs"))
    val fk = fw.join(broadcast(keep.select(col("w"))), Seq("w"), "left_semi")
    val pairs = fk.as("a").join(fk.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("w_a"), col("b.w").as("w_b"))
      .agg(count(lit(1)).as("support"))
    pairs
      .crossJoin(tot)
      .filter(col("support") * PairSupportDenom >= col("n_docs"))
      .join(broadcast(keep.select(col("w").as("w_a"), col("df").as("df_a"))), "w_a")
      .join(broadcast(keep.select(col("w").as("w_b"), col("df").as("df_b"))), "w_b")
      .select(col("w_a"), col("w_b"), col("support"), col("df_a"), col("df_b"),
        OracleMath.stableRound(
          col("support").cast("double") * col("n_docs") / (col("df_a") * col("df_b")), 6)
          .as("lift_r"))
      .orderBy(desc("support"), col("w_a"), col("w_b"))
  }

  /** Temperature-scaled mixture epoch table — the artifact a pretraining
    * data team reads before committing a sampling recipe (the Pile/LLaMA
    * practice): for each source and each sampling temperature α, the
    * sampling weight `w_s ∝ tok_s^α` and the implied EPOCHS of that source
    * consumed under a fixed token budget `B = 2·Σtok` — α=1 reproduces
    * natural proportions (every source exactly 2 epochs), α=0 is uniform
    * (small sources over-repeated), α=0.5 the usual compromise. Rows whose
    * epochs exceed [[MixEpochCap]] are flagged as repetition risks
    * (over-repetition measurably degrades models — the reason this table
    * exists). Distinct from q210 (greedy budget ALLOCATION) and q103 (row
    * sampling): this is the repetition-rate audit of a weight formula.
    *
    * Parity: tok_s is an exact integer; tok_s^α is written as CASE α∈{0,
    * 0.5, 1} → {1, sqrt, tok} (never `pow`, whose 0.5 case is not required
    * to equal sqrt bit-for-bit across libms), rounded to 6 dp and quantized
    * DECIMAL(18,6) so the cross-source mass sum is exact and order-free;
    * weight and epochs are then one fixed double expression per row.
    * Scale shape: one map-side-combined per-source aggregate, a 3-row
    * (per-α) mass table broadcast back — nothing corpus-sized shuffles.
    */
  val MixEpochCap = 2.1

  def mixtureEpochs(spark: SparkSession, dir: String): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val perSrc = Tables.documents(spark, dir)
      .select(col("source"), size(words(col("text"))).cast("long").as("tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tok"))
    val mass = when(col("alpha") === 0.0, lit(1.0))
      .when(col("alpha") === 0.5, sqrt(col("tok").cast("double")))
      .otherwise(col("tok").cast("double"))
    val rows = perSrc
      .select(col("source"), col("n_docs"), col("tok"),
        explode(array(lit(0.0), lit(0.5), lit(1.0))).as("alpha"))
      .withColumn("m", OracleMath.stableRound(mass, 6).cast(d6))
    val totals = rows.groupBy(col("alpha")).agg(sum(col("m")).as("tm"))
    val ttok = perSrc.agg(sum(col("tok")).as("ttok"))
    val epochs = col("ttok").cast("double") * lit(2.0) *
      (col("m").cast("double") / col("tm").cast("double")) / col("tok").cast("double")
    rows.join(broadcast(totals), "alpha").crossJoin(ttok)
      .select(col("source"), col("alpha"), col("n_docs"), col("tok"),
        OracleMath.stableRound(col("m").cast("double") / col("tm").cast("double"), 6)
          .as("weight"),
        OracleMath.stableRound(epochs, 6).as("epochs"),
        (OracleMath.stableRound(epochs, 6) > lit(MixEpochCap)).as("repeat_risk"))
      .orderBy(col("source"), col("alpha"))
  }

  val mixtureEpochsOracle: String = {
    val massSql = "CASE WHEN alpha = 0.0 THEN 1.0 " +
      "WHEN alpha = 0.5 THEN sqrt(CAST(tok AS DOUBLE)) ELSE CAST(tok AS DOUBLE) END"
    val epochsSql = "CAST(ttok AS DOUBLE) * 2.0 * " +
      "(CAST(m AS DOUBLE) / CAST(tm AS DOUBLE)) / CAST(tok AS DOUBLE)"
    s"""WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok
       |           FROM documents GROUP BY 1),
       |r AS (SELECT source, n_docs, tok, alpha,
       |        CAST(${OracleMath.stableRoundSql(massSql, 6)} AS DECIMAL(18,6)) AS m
       |      FROM s, (SELECT CAST(unnest([0.0, 0.5, 1.0]) AS DOUBLE) AS alpha)),
       |t AS (SELECT alpha, sum(m) AS tm FROM r GROUP BY 1),
       |g AS (SELECT sum(tok) AS ttok FROM s)
       |SELECT source, alpha, n_docs, tok,
       |  ${OracleMath.stableRoundSql("CAST(m AS DOUBLE) / CAST(tm AS DOUBLE)", 6)} AS weight,
       |  ${OracleMath.stableRoundSql(epochsSql, 6)} AS epochs,
       |  ${OracleMath.stableRoundSql(epochsSql, 6)} > $MixEpochCap AS repeat_risk
       |FROM r JOIN t USING (alpha), g
       |ORDER BY source, alpha""".stripMargin
  }

  /** Character-entropy quality signal — the gibberish/boilerplate detector
    * real curation stacks run next to length/punctuation heuristics (low
    * char entropy ⇒ repeated filler or key-mashing; q32 measures lexical
    * ratios, this measures the character DISTRIBUTION). Per doc, the
    * unigram character entropy `H = -Σ p_c·ln(p_c)` over the doc's distinct
    * characters; per source, the mean H and the fraction of docs under
    * [[LowEntropyH]] (the p10 of the corpus — the would-be drop list).
    *
    * Execution is entirely ROW-LOCAL (the q30 shape): each doc folds its
    * own distinct-char list — `count(c) = len − len(replace(text, c, ''))`
    * per distinct char, O(alphabet·len) with no per-char row explosion —
    * so the whole signal costs one scan plus a 20-row aggregate; nothing
    * about a doc ever leaves its partition. Parity: each `−p·ln p` term is
    * one fixed double expression quantized to integer MICRO-NATS, the
    * per-doc fold and per-source sums are exact BIGINT arithmetic (the
    * wordHash fixed-fold-order discipline), and only the final per-source
    * divisions are float.
    */
  val LowEntropyH = 2.78

  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    val cnt = "CAST(length(text) - length(replace(text, c, '')) AS DOUBLE)"
    val len = "CAST(length(text) AS DOUBLE)"
    val term = s"-($cnt / $len) * ln($cnt / $len)"
    val hMicros = expr(
      s"""aggregate(
         |  transform(array_distinct(split(text, '')),
         |    c -> CAST(floor(($term) * 1000000.0 + 0.5) AS BIGINT)),
         |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
    val thrMicros = math.round(LowEntropyH * 1000000.0)
    Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("source"), hMicros.as("hm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("hm")).as("shm"),
        sum(when(col("hm") < thrMicros, 1L).otherwise(0L)).as("nlo"),
        min(col("hm")).as("mnm"), max(col("hm")).as("mxm"))
      .select(col("source"), col("n_docs"),
        OracleMath.stableRound(
          col("shm").cast("double") / col("n_docs").cast("double") / lit(1000000.0), 6)
          .as("mean_h"),
        OracleMath.stableRound(
          col("nlo").cast("double") / col("n_docs").cast("double"), 6).as("lo_frac"),
        OracleMath.stableRound(col("mnm").cast("double") / lit(1000000.0), 6).as("min_h"),
        OracleMath.stableRound(col("mxm").cast("double") / lit(1000000.0), 6).as("max_h"))
      .orderBy(col("source"))
  }

  val charEntropyOracle: String = {
    val cnt = "CAST(length(text) - length(replace(text, c, '')) AS DOUBLE)"
    val len = "CAST(length(text) AS DOUBLE)"
    val term = s"-($cnt / $len) * ln($cnt / $len)"
    val thrMicros = math.round(LowEntropyH * 1000000.0)
    s"""WITH h AS (
       |  SELECT source,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(list_distinct(string_split(text, '')),
       |        c -> CAST(floor(($term) * 1000000.0 + 0.5) AS BIGINT))),
       |      (acc, x) -> acc + x) AS hm
       |  FROM documents WHERE length(text) > 0)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  ${OracleMath.stableRoundSql(
             "CAST(sum(hm) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0", 6)} AS mean_h,
       |  ${OracleMath.stableRoundSql(
             s"CAST(sum(CASE WHEN hm < $thrMicros THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS lo_frac,
       |  ${OracleMath.stableRoundSql("CAST(min(hm) AS DOUBLE) / 1000000.0", 6)} AS min_h,
       |  ${OracleMath.stableRoundSql("CAST(max(hm) AS DOUBLE) / 1000000.0", 6)} AS max_h
       |FROM h GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Robust per-source quality statistics: the 10%-TRIMMED mean of the q32
    * quality score next to the plain mean — the outlier-resistant location
    * estimate a curation dashboard shows when a handful of degenerate docs
    * (empty boilerplate scoring ~0, keyword-stuffed pages scoring ~1) would
    * otherwise drag a source's plain mean. Trim rule: within each source,
    * rank docs by (quality, doc_id) — the deterministic total order — and
    * drop the bottom and top floor(n/10) ranks; the trimmed mean averages
    * the DECIMAL(12,4)-quantized survivors exactly (order-free sum, one
    * final division).
    *
    * Scale shape: the rank window is PARTITIONED BY source (the structural
    * audit's requirement) — each source's docs rank inside its own hash
    * partition, nothing corpus-sized serializes through one task; the
    * result is one row per source.
    */
  def trimmedQuality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = words(col("text"))
    val qual = quality(ws).cast(org.apache.spark.sql.types.DecimalType(12, 4))
    val w = Window.partitionBy(col("source")).orderBy(col("q"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), qual.as("q"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))).cast("long"))
      .withColumn("lo", floor(col("n") / 10).cast("long"))
      .groupBy(col("source"))
      .agg(
        max(col("n")).as("n_docs"),
        OracleMath.stableRound(
          sum(col("q")).cast("double") / max(col("n")).cast("double"), 6).as("mean_q"),
        sum(when(col("rn") > col("lo") && col("rn") <= col("n") - col("lo"), lit(1L))
          .otherwise(lit(0L))).as("n_kept"),
        OracleMath.stableRound(
          sum(when(col("rn") > col("lo") && col("rn") <= col("n") - col("lo"), col("q")))
            .cast("double") /
            sum(when(col("rn") > col("lo") && col("rn") <= col("n") - col("lo"), lit(1L))
              .otherwise(lit(0L))).cast("double"), 6).as("trimmed_q"))
      .orderBy(col("source"))
  }

  val trimmedQualityOracle: String =
    s"""WITH base AS (SELECT doc_id, source, $qualityColsSql
       |      FROM documents),
       |q AS (SELECT source, doc_id,
       |       CAST($qualitySql AS DECIMAL(12,4)) AS q
       |      FROM base),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source ORDER BY q, doc_id) AS BIGINT) AS rn,
       |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n,
       |        CAST(floor(count(*) OVER (PARTITION BY source) / 10) AS BIGINT) AS lo
       |      FROM q)
       |SELECT source, max(n) AS n_docs,
       |  ${OracleMath.stableRoundSql("CAST(sum(q) AS DOUBLE) / CAST(max(n) AS DOUBLE)", 6)} AS mean_q,
       |  CAST(sum(CASE WHEN rn > lo AND rn <= n - lo THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  ${OracleMath.stableRoundSql("CAST(sum(CASE WHEN rn > lo AND rn <= n - lo THEN q END) AS DOUBLE) / CAST(sum(CASE WHEN rn > lo AND rn <= n - lo THEN 1 ELSE 0 END) AS DOUBLE)", 6)} AS trimmed_q
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** Context-length sizing table — the truncation/padding trade-off sheet
    * read before fixing an SFT max sequence length: for each candidate
    * `L ∈ {128, 256, 512, 1024}`, the fraction of docs that would be
    * truncated, the tokens LOST to truncation (`Σ max(0, tok−L)`), the
    * tokens WASTED as padding in one-doc-per-sequence batching
    * (`Σ (L − min(tok, L))`) and the resulting utilization
    * (`Σ min(tok,L) / (n·L)`). Complements q102 (concat-and-chunk packing,
    * where utilization is ~1 by construction and the cost is doc
    * STRADDLING instead): this is the no-splitting regime's waste curve.
    *
    * Everything is per-row integer arithmetic on the token count crossed
    * with a 4-element literal array — one scan, a 4-key map-side-combined
    * aggregate, exact BIGINT sums; the two final ratios are each one fixed
    * double expression. Nothing about scale changes the shape.
    */
  val ContextLens = Seq(128L, 256L, 512L, 1024L)

  def contextSizing(spark: SparkSession, dir: String): DataFrame = {
    val lens = array(ContextLens.map(lit): _*)
    Tables.documents(spark, dir)
      .select(size(words(col("text"))).cast("long").as("tok"),
        explode(lens).as("max_len"))
      .groupBy(col("max_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("tok") > col("max_len"), 1L).otherwise(0L)).as("n_truncated"),
        sum(greatest(col("tok") - col("max_len"), lit(0L))).as("tokens_truncated"),
        sum(col("max_len") - least(col("tok"), col("max_len"))).as("tokens_padding"),
        sum(least(col("tok"), col("max_len"))).as("tokens_kept"))
      .select(col("max_len"), col("n_docs"), col("n_truncated"),
        col("tokens_truncated"), col("tokens_padding"),
        OracleMath.stableRound(
          col("n_truncated").cast("double") / col("n_docs").cast("double"), 6)
          .as("trunc_frac"),
        OracleMath.stableRound(
          col("tokens_kept").cast("double") /
            (col("n_docs").cast("double") * col("max_len").cast("double")), 6)
          .as("utilization"))
      .orderBy(col("max_len"))
  }

  val contextSizingOracle: String =
    s"""WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents),
       |x AS (SELECT tok, CAST(unnest([${ContextLens.mkString(", ")}]) AS BIGINT) AS max_len FROM d),
       |a AS (SELECT max_len, CAST(count(*) AS BIGINT) AS n_docs,
       |        CAST(sum(CASE WHEN tok > max_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
       |        CAST(sum(greatest(tok - max_len, 0)) AS BIGINT) AS tokens_truncated,
       |        CAST(sum(max_len - least(tok, max_len)) AS BIGINT) AS tokens_padding,
       |        CAST(sum(least(tok, max_len)) AS BIGINT) AS tokens_kept
       |      FROM x GROUP BY 1)
       |SELECT max_len, n_docs, n_truncated, tokens_truncated, tokens_padding,
       |  ${OracleMath.stableRoundSql(
            "CAST(n_truncated AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} AS trunc_frac,
       |  ${OracleMath.stableRoundSql(
            "CAST(tokens_kept AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(max_len AS DOUBLE))", 6)} AS utilization
       |FROM a ORDER BY max_len""".stripMargin

  /** Per-source unigram KL divergence from the corpus distribution — the
    * topical-skew detector that ranks sources by how far their word usage
    * drifts from the corpus mean (the signal behind "this crawl slice is
    * all SEO spam"): `KL(P_s ‖ Q) = Σ_w P_s(w)·ln(P_s(w)/Q(w))` with
    * add-one smoothing over the CORPUS vocabulary on both sides, so every
    * source is scored over the same support and absent words contribute
    * their smoothed mass. Complements q259 (pairwise BATCH drift, χ²) with
    * a one-number-per-source divergence against the global distribution.
    *
    * Shape: one word-count aggregate keyed (source, word), the vocabulary
    * re-keyed per source via a BROADCAST cross join with the 20-row source
    * list (vocab-sized × |sources| skinny rows — a dictionary shuffle,
    * never a corpus one), per-term micro-nat quantization and exact BIGINT
    * per-source sums (the q267 discipline; ln parity per the q264
    * precedent). The smoothing scalars (V, total tokens) ride a 1-row
    * broadcast; per-source token totals a |sources|-row one.
    */
  def sourceKlSkew(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
      .persistTracked()
    val vocab = counts.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
    val perSrc = counts.groupBy(col("source")).agg(sum(col("c_sw")).as("tok_s"))
    val scalars = vocab.agg(count(lit(1)).as("v"), sum(col("c_w")).as("tok"))
    val p = (col("c_sw") + lit(1.0)) / (col("tok_s").cast("double") + col("v").cast("double"))
    val q = (col("c_w") + lit(1.0)) / (col("tok").cast("double") + col("v").cast("double"))
    val termMicros =
      floor((p * log(p / q)) * lit(1000000.0) + lit(0.5)).cast("long")
    vocab.crossJoin(broadcast(perSrc))
      .join(counts, Seq("source", "w"), "left")
      .na.fill(0L, Seq("c_sw"))
      .crossJoin(scalars)
      .select(col("source"),
        when(col("c_sw") > 0, 1L).otherwise(0L).as("present"),
        termMicros.as("tm"))
      .groupBy(col("source"))
      .agg(sum(col("present")).as("n_words_present"),
        OracleMath.stableRound(
          sum(col("tm")).cast("double") / lit(1000000.0), 6).as("kl_nats"))
      .orderBy(col("source"))
  }

  val sourceKlSkewOracle: String = {
    val p = "(c_sw + 1.0) / (CAST(tok_s AS DOUBLE) + CAST(v AS DOUBLE))"
    val q = "(c_w + 1.0) / (CAST(tok AS DOUBLE) + CAST(v AS DOUBLE))"
    s"""WITH counts AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c_sw
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1, 2),
       |vocab AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM counts GROUP BY 1),
       |per_src AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS tok_s FROM counts GROUP BY 1),
       |scalars AS (SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(c_w) AS BIGINT) AS tok FROM vocab),
       |joined AS (SELECT s.source, s.tok_s, vv.c_w, coalesce(c.c_sw, 0) AS c_sw
       |  FROM vocab vv CROSS JOIN per_src s
       |  LEFT JOIN counts c ON c.source = s.source AND c.w = vv.w),
       |terms AS (SELECT source,
       |    CASE WHEN c_sw > 0 THEN 1 ELSE 0 END AS present,
       |    CAST(floor(((($p) * ln(($p) / ($q)))) * 1000000.0 + 0.5) AS BIGINT) AS tm
       |  FROM joined CROSS JOIN scalars)
       |SELECT source, CAST(sum(present) AS BIGINT) AS n_words_present,
       |  ${OracleMath.stableRoundSql("CAST(sum(tm) AS DOUBLE) / 1000000.0", 6)} AS kl_nats
       |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Dedup RETENTION-BIAS audit — the governance check run after a dedup
    * pass: does canonical-pick dedup (q213's quality-argmax over q36's
    * wordset groups) remove documents EVENLY across sources, or does it
    * systematically drain some source (because its docs lose quality
    * ties to a syndicating mirror)? Per source: docs, retained canonicals,
    * retention rate, and the bias vs the corpus-wide retention rate — the
    * number a data owner reads before signing off a curation recipe.
    *
    * Shape: one quality/wordset-key scan, a wkey-partitioned rank window
    * (the dedup itself), a per-source aggregate and a 1-row broadcast of
    * the corpus totals. The rank window is keyed by the dup-group key —
    * never corpus-wide.
    */
  def retentionBias(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = words(col("text"))
    val wkey = wordSetKey(col("text"))
    val scored = Tables.documents(spark, dir)
      .select(wkey.as("wkey"), col("doc_id"), col("source"),
        quality(ws).as("quality_r"))
    val pick = Window.partitionBy(col("wkey")).orderBy(col("quality_r").desc, col("doc_id"))
    val perSrc = scored
      .withColumn("kept", when(row_number().over(pick) === 1, 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_retained"))
    val totals = perSrc.agg(sum(col("n_docs")).as("t_docs"), sum(col("n_retained")).as("t_ret"))
    val rate = col("n_retained").cast("double") / col("n_docs").cast("double")
    val corpusRate = col("t_ret").cast("double") / col("t_docs").cast("double")
    perSrc.crossJoin(totals)
      .select(col("source"), col("n_docs"), col("n_retained"),
        OracleMath.stableRound(rate, 6).as("retention"),
        OracleMath.stableRound(rate - corpusRate, 6).as("bias"))
      .orderBy(col("source"))
  }

  val retentionBiasOracle: String =
    s"""WITH base AS (SELECT doc_id, source, $qualityColsSql,
       |       $wordSetKeySql AS wkey
       |      FROM documents),
       |q AS (SELECT wkey, doc_id, source,
       |       $qualitySql AS quality_r
       |      FROM base),
       |r AS (SELECT source,
       |        CASE WHEN row_number() OVER (PARTITION BY wkey ORDER BY quality_r DESC, doc_id) = 1
       |             THEN 1 ELSE 0 END AS kept
       |      FROM q),
       |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |        CAST(sum(kept) AS BIGINT) AS n_retained
       |      FROM r GROUP BY 1),
       |t AS (SELECT sum(n_docs) AS t_docs, sum(n_retained) AS t_ret FROM s)
       |SELECT source, n_docs, n_retained,
       |  ${OracleMath.stableRoundSql("CAST(n_retained AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} AS retention,
       |  ${OracleMath.stableRoundSql("CAST(n_retained AS DOUBLE) / CAST(n_docs AS DOUBLE) - CAST(t_ret AS DOUBLE) / CAST(t_docs AS DOUBLE)", 6)} AS bias
       |FROM s, t ORDER BY source""".stripMargin

  /** Token-mass CONCENTRATION per source — the Gini coefficient of document
    * token counts, the "is this source three mega-documents in a trench
    * coat?" check (a high-Gini source's statistics are dominated by a few
    * giants; sampling, packing and dedup all behave differently there).
    * Exact order-statistics form on the ascending (tok, doc_id) ranks:
    * `G = (2·Σᵢ i·xᵢ) / (n·Σx) − (n+1)/n`, everything an exact BIGINT sum
    * (rank·tokens products) until one final double expression — no
    * approximation, no float accumulation. Complements q218 (corpus Pareto
    * frontier) and q165 (shuffle-key skew) with the per-source mass-skew
    * scalar.
    *
    * The rank window is partitioned by source (the structural audit's
    * contract); the products sum map-side. Output is one row per source.
    */
  def tokenGini(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("tok"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(words(col("text"))).cast("long").as("tok"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tok_total"),
        sum(col("i") * col("tok")).as("ix"))
      .select(col("source"), col("n_docs"), col("tok_total"),
        OracleMath.stableRound(
          lit(2.0) * col("ix").cast("double") /
            (col("n_docs").cast("double") * col("tok_total").cast("double")) -
            (col("n_docs") + 1).cast("double") / col("n_docs").cast("double"), 6)
          .as("gini"))
      .orderBy(col("source"))
  }

  val tokenGiniOracle: String =
    s"""WITH d AS (SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |           FROM documents),
       |r AS (SELECT source, tok,
       |        CAST(row_number() OVER (PARTITION BY source ORDER BY tok, doc_id) AS BIGINT) AS i
       |      FROM d),
       |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |        CAST(sum(tok) AS BIGINT) AS tok_total, CAST(sum(i * tok) AS BIGINT) AS ix
       |      FROM r GROUP BY 1)
       |SELECT source, n_docs, tok_total,
       |  ${OracleMath.stableRoundSql(
          "2.0 * CAST(ix AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(tok_total AS DOUBLE)) - CAST(n_docs + 1 AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} AS gini
       |FROM s ORDER BY source""".stripMargin

  /** Per-source ZIPF SLOPE — OLS fit of `ln(freq) ~ ln(rank)` over each
    * source's top-[[ZipfTopK]] words: the lexical-diversity scalar (a slope
    * near −1 is natural text; much steeper means a few tokens dominate —
    * template/boilerplate sources; much flatter means unnaturally uniform
    * vocabulary — shuffled or generated text). The per-source counterpart
    * of q231's corpus-level head/torso/tail segmentation, reduced to one
    * comparable number per source.
    *
    * Parity is the q193 sufficient-sums discipline with the q264 ln
    * convention: both regression coordinates are ln values quantized to
    * DECIMAL(18,6) FIRST, so every sum (Σx, Σy, Σxy, Σx², Σy²) is exact
    * decimal arithmetic and slope/r² are one fixed double expression each.
    * The word-count shuffle is dictionary-sized and the rank window is
    * partitioned by source; the fit consumes [[ZipfTopK]] rows per source.
    */
  val ZipfTopK = 100

  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val w = Window.partitionBy(col("source")).orderBy(desc("cnt"), col("w"))
    val ranked = Tables.documents(spark, dir)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= ZipfTopK)
      .select(col("source"),
        OracleMath.stableRound(log(col("rank").cast("double")), 6).cast(d6).as("x"),
        OracleMath.stableRound(log(col("cnt").cast("double")), 6).cast(d6).as("y"))
    val s = ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val (n, sx, sy, sxy, sxx, syy) = (col("n_terms").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"), col("sxy").cast("double"),
      col("sxx").cast("double"), col("syy").cast("double"))
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy))
    s.select(col("source"), col("n_terms"),
        OracleMath.stableRound(slope, 6).as("zipf_slope"),
        OracleMath.stableRound(r2, 6).as("r2"))
      .orderBy(col("source"))
  }

  val zipfSlopeOracle: String = {
    val n = "CAST(n_terms AS DOUBLE)"
    val (sx, sy, sxy, sxx, syy) = ("CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)",
      "CAST(sxy AS DOUBLE)", "CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)")
    val slope = s"($n * $sxy - $sx * $sy) / ($n * $sxx - $sx * $sx)"
    val r2 = s"(($n * $sxy - $sx * $sy) * ($n * $sxy - $sx * $sy)) / " +
      s"(($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy))"
    s"""WITH counts AS (SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1, 2),
       |ranked AS (SELECT source,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY cnt DESC, w) AS BIGINT) AS rank,
       |    cnt
       |  FROM counts),
       |xy AS (SELECT source,
       |    CAST(${OracleMath.stableRoundSql("ln(CAST(rank AS DOUBLE))", 6)} AS DECIMAL(18,6)) AS x,
       |    CAST(${OracleMath.stableRoundSql("ln(CAST(cnt AS DOUBLE))", 6)} AS DECIMAL(18,6)) AS y
       |  FROM ranked WHERE rank <= $ZipfTopK),
       |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_terms, sum(x) AS sx, sum(y) AS sy,
       |        sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
       |      FROM xy GROUP BY 1)
       |SELECT source, n_terms,
       |  ${OracleMath.stableRoundSql(slope, 6)} AS zipf_slope,
       |  ${OracleMath.stableRoundSql(r2, 6)} AS r2
       |FROM s ORDER BY source""".stripMargin
  }

  /** Sequence-packing STRADDLE curve — the cost ledger of the
    * concat-and-chunk regime q102 implements: for each candidate sequence
    * length L, how many documents get SPLIT across a chunk boundary
    * (`⌊cum/L⌋ ≠ ⌊(cum+tok−1)/L⌋` — the doc contributes attention-broken
    * fragments to two or more training sequences) and how many chunks the
    * corpus packs into. Together with q270 (the no-splitting regime's
    * truncation/padding waste) this is both halves of the context-length
    * decision: chunking wastes nothing but straddles; padding wastes tokens
    * but never splits. One shared global prefix sum (the q102 two-pass —
    * computed once, L-independent) exploded over the candidate lengths;
    * exact integer arithmetic throughout.
    */
  def packStraddle(spark: SparkSession, dir: String): DataFrame = {
    val lens = array(ContextLens.map(lit): _*)
    cumTokens(spark, dir)
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("cum_before"),
        explode(lens).as("seq_len"))
      .groupBy(col("seq_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(expr("cum_before DIV seq_len") =!=
          expr("(cum_before + n_tokens - 1) DIV seq_len"), 1L).otherwise(0L))
          .as("n_straddled"),
        max(col("cum_before") + col("n_tokens")).as("total_tokens"))
      .select(col("seq_len"), col("n_docs"), col("n_straddled"),
        OracleMath.stableRound(
          col("n_straddled").cast("double") / col("n_docs").cast("double"), 6)
          .as("straddle_frac"),
        expr("(total_tokens + seq_len - 1) DIV seq_len").as("n_chunks"))
      .orderBy(col("seq_len"))
  }

  val packStraddleOracle: String =
    s"""WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |           FROM documents),
       |c AS (SELECT doc_id, tok,
       |        CAST(coalesce(sum(tok) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |      FROM d),
       |x AS (SELECT doc_id, tok, cum_before,
       |        CAST(unnest([${ContextLens.mkString(", ")}]) AS BIGINT) AS seq_len
       |      FROM c WHERE tok > 0)
       |SELECT seq_len, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN cum_before // seq_len <> (cum_before + tok - 1) // seq_len
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_straddled,
       |  ${OracleMath.stableRoundSql(
          "CAST(sum(CASE WHEN cum_before // seq_len <> (cum_before + tok - 1) // seq_len THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS straddle_frac,
       |  CAST((max(cum_before + tok) + seq_len - 1) // seq_len AS BIGINT) AS n_chunks
       |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  /** Collocation detection parameters (word2vec phrase-detection defaults,
    * scaled to the corpus): the discount δ kills pairs whose co-occurrence
    * could be a handful of chance adjacencies, the min-count floor keeps
    * the table statistically meaningful, K bounds the report.
    */
  val CollocDelta = 5L
  val CollocMinCount = 10L
  val CollocTopK = 30

  /** q285 — PMI-style collocation mining (the word2vec phrase-detection
    * score, Mikolov et al. 2013): for every adjacent word pair, score =
    * (c_ab − δ)·N ∕ (c_a·c_b) — a scaled exponential of pointwise mutual
    * information — and the top-K scoring pairs above a support floor. The
    * step that decides which adjacent tokens become single phrase tokens
    * ("new_york") before embedding training.
    *
    * Scale shape: the bigram stream comes from the q65 [[graft.functions
    * .NGrams]] generator (order-preserving shingles), both count tables are
    * map-side-combined aggregates whose keys are DICTIONARY-sized (bigram
    * types, unigram types — never corpus rows); the score join runs
    * bigram-table ⋈ unigram-table on the word key twice — skinny
    * dictionary×dictionary shuffles with no forced broadcast (a web-scale
    * vocabulary must be allowed to shuffle; AQE may still broadcast small
    * ones). The final top-K is `orderBy().limit(K)` — TakeOrderedAndProject
    * per-partition heaps, never a corpus-wide window. Parity: the score is
    * an integer-ratio double rounded once; the ORDER BY uses the ROUNDED
    * score plus the pair tiebreak so the K-boundary is engine-identical.
    */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir).select(words(col("text")).as("ws"))
    val uni = toks.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val tot = uni.agg(sum(col("c_w")).as("n_tok"))
    val big = toks
      .select(graft.functions.VectorFunctions.ngrams(col("ws"), 2).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= CollocMinCount && col("c_ab") > CollocDelta)
      .select(split(col("bigram"), " ").getItem(0).as("w_a"),
        split(col("bigram"), " ").getItem(1).as("w_b"), col("c_ab"))
    val scoreR = OracleMath.stableRound(
      (col("c_ab") - lit(CollocDelta)).cast("double") * col("n_tok").cast("double") /
        (col("c_a").cast("double") * col("c_b").cast("double")), 6)
    big
      .join(uni.select(col("w").as("w_a"), col("c_w").as("c_a")), Seq("w_a"))
      .join(uni.select(col("w").as("w_b"), col("c_w").as("c_b")), Seq("w_b"))
      .crossJoin(tot)
      .select(col("w_a"), col("w_b"), col("c_ab"), col("c_a"), col("c_b"),
        scoreR.as("score"))
      .orderBy(desc("score"), col("w_a"), col("w_b"))
      .limit(CollocTopK)
  }

  /** The q285 twin: identical counts and score expression; ORDER BY the
    * rounded score so the top-K boundary matches.
    */
  val collocationsOracle: String =
    s"""WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
       |uni AS (SELECT t AS w, CAST(count(*) AS BIGINT) AS c_w
       |        FROM (SELECT unnest(w) AS t FROM ws) GROUP BY 1),
       |tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_tok FROM uni),
       |big AS (SELECT string_split(b, ' ')[1] AS w_a, string_split(b, ' ')[2] AS w_b,
       |          CAST(count(*) AS BIGINT) AS c_ab
       |        FROM (SELECT unnest(list_transform(range(1, len(w)),
       |                i -> w[i] || ' ' || w[i+1])) AS b FROM ws)
       |        GROUP BY 1, 2
       |        HAVING count(*) >= $CollocMinCount AND count(*) > $CollocDelta)
       |SELECT w_a, w_b, c_ab, a.c_w AS c_a, b.c_w AS c_b,
       |  ${OracleMath.stableRoundSql(
          s"CAST(c_ab - $CollocDelta AS DOUBLE) * CAST(n_tok AS DOUBLE) / " +
            "(CAST(a.c_w AS DOUBLE) * CAST(b.c_w AS DOUBLE))", 6)} AS score
       |FROM big JOIN uni a ON a.w = big.w_a JOIN uni b ON b.w = big.w_b, tot
       |ORDER BY score DESC, w_a, w_b LIMIT $CollocTopK""".stripMargin

  /** TextRank constants: fixed-point scale (2⁴⁰-ish headroom under BIGINT:
    * rank·weight stays in-range for edge weights up to ~10⁶ — a larger
    * corpus lowers the scale, documented envelope), damping 85∕100, bounded
    * synchronous rounds, report size.
    */
  val TrScale = 1000000000000L
  val TrRounds = 5
  val TrTopK = 20

  /** q289 — TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    * PageRank over the word ADJACENCY graph (edge weight = corpus count of
    * the two words appearing adjacent, symmetrized, self-loops dropped),
    * top-K words by converged rank — the unsupervised keyword/keyphrase
    * scorer that needs no training data. The word-graph sibling of q169's
    * user-graph PageRank and the consumer of q285's adjacency stream:
    * collocations score PAIRS, TextRank scores WORDS by global graph
    * centrality.
    *
    * Scale shape: the edge list is a dictionary-sized aggregate (adjacent
    * word-pair types), persisted ONCE and hash-partitioned by the rank
    * join; each of the [[TrRounds]] synchronous rounds is one
    * edges⋈ranks join + one dst aggregate — work per round is O(|edges|),
    * never nodes×rounds, and the driver loop is bounded. `localCheckpoint`
    * truncates the growing lineage each round (the q169 treatment). All
    * arithmetic is scaled-integer ((rank·w) DIV wdeg, 85∕100 damping in
    * integer DIV) so the 5-round trajectory is engine-identical and the
    * twin replays it exactly; the top-K boundary orders on the exact
    * integer rank.
    */
  def textRank(spark: SparkSession, dir: String): DataFrame = {
    val adj = Tables.documents(spark, dir)
      .select(graft.functions.VectorFunctions.ngrams(words(col("text")), 2).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("a"),
        split(col("bg"), " ").getItem(1).as("b"))
      .filter(col("a") =!= col("b"))
    val edges = adj.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .persistTracked()
    val wdeg = edges.groupBy(col("src")).agg(sum(col("w")).as("wdeg"))
      .persistTracked()
    val teleport = TrScale * 15L / 100L
    var ranks = wdeg.select(col("src").as("node"), col("wdeg"), lit(TrScale).as("rank"))
    for (_ <- 1 to TrRounds) {
      val contrib = ranks.join(edges, ranks("node") === edges("src"))
        .select(col("dst"), expr("(rank * w) DIV wdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      ranks = wdeg.select(col("src").as("node"), col("wdeg"))
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"), col("wdeg"),
          (lit(teleport) + expr("(85 * coalesce(in_sum, 0L)) DIV 100")).as("rank"))
        .checkpointTracked()
    }
    val total = ranks.agg(sum(col("rank")).as("total_rank"))
    ranks.crossJoin(total)
      .select(col("node").as("word"), col("wdeg"), col("rank").as("rank_scaled"),
        OracleMath.stableRound(
          col("rank") * lit(100.0) / col("total_rank"), 6).as("share_pct"))
      .orderBy(desc("rank_scaled"), col("word"))
      .limit(TrTopK)
  }

  /** The q289 twin — the unrolled-round integer replay (the q169 oracle
    * shape on the word graph).
    */
  val textRankOracle: String = {
    val rounds = (1 to TrRounds).map { k =>
      s"""r$k AS (SELECT d.src AS node, d.wdeg,
         |  ${TrScale * 15L / 100L} + (85 * coalesce(s.in_sum, 0)) // 100 AS rank
         |  FROM wdeg d LEFT JOIN (
         |    SELECT e.dst AS dst, sum((r.rank * e.w) // r.wdeg) AS in_sum
         |    FROM r${k - 1} r JOIN edges e ON e.src = r.node GROUP BY 1) s
         |  ON s.dst = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
       |bg AS (SELECT string_split(b, ' ')[1] AS a, string_split(b, ' ')[2] AS b2
       |       FROM (SELECT unnest(list_transform(range(1, len(w)),
       |               i -> w[i] || ' ' || w[i+1])) AS b FROM ws)
       |       WHERE string_split(b, ' ')[1] <> string_split(b, ' ')[2]),
       |edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       |          FROM (SELECT a AS src, b2 AS dst FROM bg
       |                UNION ALL SELECT b2, a FROM bg)
       |          GROUP BY 1, 2),
       |wdeg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM edges GROUP BY 1),
       |r0 AS (SELECT src AS node, wdeg, CAST($TrScale AS BIGINT) AS rank FROM wdeg),
       |$rounds,
       |tot AS (SELECT sum(rank) AS total_rank FROM r$TrRounds)
       |SELECT node AS word, wdeg, CAST(rank AS BIGINT) AS rank_scaled,
       | ${OracleMath.stableRoundSql(
          "CAST(rank AS DOUBLE) * 100.0 / CAST(total_rank AS DOUBLE)", 6)} AS share_pct
       |FROM r$TrRounds, tot
       |ORDER BY rank_scaled DESC, word LIMIT $TrTopK""".stripMargin
  }

  /** q290 — cross-source quantile normalization of the length distribution
    * (the batch-effect removal step before mixing corpora): each document's
    * `n_chars` is replaced by the POOLED corpus value at the same quantile
    * its length occupies WITHIN its source — after it, every source has an
    * identical length distribution, so a length-based quality gate cannot
    * systematically favor one source. Nearest-rank convention: a doc at
    * within-source rank r of n_s maps to the pooled value at global rank
    * ⌈r·N∕n_s⌉ — all INTEGER arithmetic ((r·N + n_s − 1) DIV n_s), so the
    * mapping is engine-exact with no interpolation-float boundary. (r·N
    * stays in BIGINT up to ~3·10⁹ documents; beyond that the multiply needs
    * a wider type — documented envelope.)
    *
    * Scale shape: BOTH rank passes are [[PrefixSum.cumSums]] two-pass
    * global sorts (pooled order by (n_chars, doc_id); per-source order by
    * (source, n_chars, doc_id) with the per-source offset recovered from a
    * sources-sized min aggregate broadcast back) — a naive
    * `row_number() OVER (PARTITION BY source)` would collapse each source
    * into ONE task, the per-key skew variant of the corpus-wide window this
    * codebase bans. The final mapping is an equi-join on the target rank —
    * scalar key, sort-merge at scale.
    */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val nParts = math.max(2, spark.sparkContext.defaultParallelism / 4)
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val pooledRes = PrefixSum.cumSums(d.select(col("doc_id"), col("n_chars")),
      Seq(col("n_chars"), col("doc_id")), Seq("rn" -> lit(1L)), nParts)
    val pooled = pooledRes.df
      .select(col("cum_rn").as("gr"), col("n_chars").as("mapped_chars"))
    val n = pooledRes.totals("rn")
    val bySrc = PrefixSum.cumSums(d, Seq(col("source"), col("n_chars"), col("doc_id")),
      Seq("rn" -> lit(1L)), nParts).df
    val srcStats = bySrc.groupBy(col("source"))
      .agg(min(col("cum_rn")).as("first_r"), count(lit(1)).as("n_s"))
    bySrc.join(broadcast(srcStats), Seq("source"))
      .withColumn("sr", col("cum_rn") - col("first_r") + 1)
      .withColumn("gr", expr(s"(sr * ${n}L + n_s - 1) DIV n_s"))
      .join(pooled, Seq("gr"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("mapped_chars"))
      .orderBy(col("doc_id"))
  }

  /** The q290 twin — plain rank windows (the oracle engine's job is to be
    * obviously correct, not scale-shaped) with the same ceil arithmetic.
    */
  val quantileNormalizeOracle: String =
    """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      |g AS (SELECT n_chars AS mapped_chars,
      |        row_number() OVER (ORDER BY n_chars, doc_id) AS gr FROM d),
      |s AS (SELECT doc_id, source, n_chars,
      |        row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS sr,
      |        count(*) OVER (PARTITION BY source) AS ns FROM d)
      |SELECT s.doc_id, s.source, s.n_chars, g.mapped_chars
      |FROM s CROSS JOIN t JOIN g ON g.gr = (s.sr * t.n + s.ns - 1) // s.ns
      |ORDER BY s.doc_id""".stripMargin

  /** Heaps-law growth-curve resolution: documents are hashed into this many
    * deterministic buckets; cumulative bucket prefixes are the sampling
    * points of the vocabulary-growth curve.
    */
  val HeapsBuckets = 10

  /** q291 — Heaps'-law vocabulary-growth exponent per source: fit
    * V(n) ≈ K·n^β (vocabulary size vs tokens seen) and report β — the
    * forecast of how fast a source keeps minting new types as it scales
    * (β near 0.5 is natural text; β near 0 means the source will saturate
    * a tokenizer's vocabulary early; β near 1 is id-like noise). The
    * growth curve uses md5 doc-buckets as the accumulation order (a
    * random-order growth curve — position-in-file order would confound
    * ingest chronology), so "the first k∕10 of the corpus" is a
    * deterministic sample both engines agree on.
    *
    * Scale shape: ONE corpus scan feeds two dictionary-sized aggregates —
    * per-(source, bucket) token totals, and each word's FIRST bucket
    * (min-aggregate over (source, word), the exact-distinct trick: a word
    * adds to V at its first bucket only). Cumulating over the bucket
    * domain is a window over ≤ [[HeapsBuckets]] rows per source (bounded
    * by construction); the OLS fit is the q275 treatment — both log
    * coordinates quantized to DECIMAL(18,6) before exact sufficient sums,
    * slope and r² assembled in one fixed double expression each.
    */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val bucket = expr(
      s"CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT) % $HeapsBuckets")
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), words(col("text")).as("ws"))
      .withColumn("b", bucket)
    val tokB = docs.groupBy(col("source"), col("b"))
      .agg(sum(size(col("ws")).cast("long")).as("tok_new"))
    val vB = docs.select(col("source"), col("b"), explode(col("ws")).as("w"))
      .groupBy(col("source"), col("w")).agg(min(col("b")).as("mb"))
      .groupBy(col("source"), col("mb")).agg(count(lit(1)).as("v_new"))
    val wn = Window.partitionBy(col("source")).orderBy(col("b"))
    val points = tokB
      .join(vB.select(col("source"), col("mb").as("b"), col("v_new")), Seq("source", "b"), "left")
      .na.fill(0L, Seq("v_new"))
      .withColumn("cum_tok", sum(col("tok_new")).over(wn))
      .withColumn("cum_v", sum(col("v_new")).over(wn))
      .select(col("source"),
        OracleMath.stableRound(log(col("cum_tok").cast("double")), 6).cast(d6).as("x"),
        OracleMath.stableRound(log(col("cum_v").cast("double")), 6).cast(d6).as("y"))
    val s = points.groupBy(col("source"))
      .agg(count(lit(1)).as("n_points"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val (n, sx, sy, sxy, sxx, syy) = (col("n_points").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"), col("sxy").cast("double"),
      col("sxx").cast("double"), col("syy").cast("double"))
    val slopeDen = n * sxx - sx * sx
    val r2Den = (n * sxx - sx * sx) * (n * syy - sy * sy)
    val slope = (n * sxy - sx * sy) / slopeDen
    val r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / r2Den
    // a source whose vocabulary saturates in the first bucket has zero
    // y-variance (β exists but r² does not); zero x-variance voids both —
    // degenerate fits surface as NULL, never as a divide error
    s.select(col("source"), col("n_points"),
        when(slopeDen === 0.0, lit(null).cast("double"))
          .otherwise(OracleMath.stableRound(slope, 6)).as("heaps_beta"),
        when(r2Den === 0.0, lit(null).cast("double"))
          .otherwise(OracleMath.stableRound(r2, 6)).as("r2"))
      .orderBy(col("source"))
  }

  /** The q291 twin — identical buckets, cumulations and quantized OLS. */
  val heapsLawOracle: String = {
    val n = "CAST(n_points AS DOUBLE)"
    val (sx, sy, sxy, sxx, syy) = ("CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)",
      "CAST(sxy AS DOUBLE)", "CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)")
    val slope = s"($n * $sxy - $sx * $sy) / ($n * $sxx - $sx * $sx)"
    val r2 = s"(($n * $sxy - $sx * $sy) * ($n * $sxy - $sx * $sy)) / " +
      s"(($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy))"
    s"""WITH docs AS (SELECT source, doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % $HeapsBuckets AS b,
       |    string_split(text, ' ') AS ws
       |  FROM documents),
       |tok_b AS (SELECT source, b, CAST(sum(len(ws)) AS BIGINT) AS tok_new
       |          FROM docs GROUP BY 1, 2),
       |v_b AS (SELECT source, mb AS b, CAST(count(*) AS BIGINT) AS v_new
       |        FROM (SELECT source, w, min(b) AS mb
       |              FROM (SELECT source, b, unnest(ws) AS w FROM docs)
       |              GROUP BY 1, 2)
       |        GROUP BY 1, 2),
       |pts AS (SELECT t.source,
       |    sum(t.tok_new) OVER (PARTITION BY t.source ORDER BY t.b) AS cum_tok,
       |    sum(coalesce(v.v_new, 0)) OVER (PARTITION BY t.source ORDER BY t.b) AS cum_v
       |  FROM tok_b t LEFT JOIN v_b v ON v.source = t.source AND v.b = t.b),
       |xy AS (SELECT source,
       |    CAST(${OracleMath.stableRoundSql("ln(CAST(cum_tok AS DOUBLE))", 6)} AS DECIMAL(18,6)) AS x,
       |    CAST(${OracleMath.stableRoundSql("ln(CAST(cum_v AS DOUBLE))", 6)} AS DECIMAL(18,6)) AS y
       |  FROM pts),
       |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_points, sum(x) AS sx, sum(y) AS sy,
       |        sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
       |      FROM xy GROUP BY 1)
       |SELECT source, n_points,
       |  CASE WHEN $n * $sxx - $sx * $sx = 0 THEN NULL
       |       ELSE ${OracleMath.stableRoundSql(slope, 6)} END AS heaps_beta,
       |  CASE WHEN ($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy) = 0 THEN NULL
       |       ELSE ${OracleMath.stableRoundSql(r2, 6)} END AS r2
       |FROM s ORDER BY source""".stripMargin
  }

  /** Novelty shingle width — long enough that a shared gram implies copied
    * text, not chance (the memorization-audit convention of 8-13 grams).
    */
  val NoveltyGramN = 8

  /** q292 — per-document n-gram novelty (memorization-risk score): the
    * fraction of a document's distinct 8-grams that appear in NO other
    * document — the inverse of q115's intra-doc repetition and the
    * corpus-internal sibling of q139's train/test contamination. Low
    * novelty = the doc is largely assembled from text that exists
    * elsewhere (template, quote-stitch, mirror) and is the kind of
    * sequence a model can memorize from multiple sources; dedup passes
    * rank removal candidates by exactly this.
    *
    * Scale shape: grams never leave their shuffle key — the per-doc
    * DISTINCT gram stream (one generate + per-doc dedup) feeds a
    * gram-keyed document-frequency aggregate (map-side combined), joins
    * back on the gram key, and re-aggregates per doc. Three shuffles, all
    * on derived keys (gram text / doc_id), no pairwise join anywhere —
    * df == 1 IS the leave-one-out novelty test, computed without ever
    * comparing documents. Docs with < n words emit no shingles and drop
    * out (same convention as the q53 gram family).
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.ngrams(words(col("text")), NoveltyGramN).as("g"))
      .distinct()
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    grams.join(df, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        OracleMath.stableRound(
          col("n_novel").cast("double") / col("n_grams").cast("double"), 4)
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** The q292 twin — same shingles, distinct-per-doc, df and ratio. */
  val ngramNoveltyOracle: String = {
    val gram = (1 to NoveltyGramN).map(j => s"ws[i+${j - 1}]").mkString(" || ' ' || ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |grams AS (SELECT DISTINCT doc_id, g
       |  FROM (SELECT doc_id, unnest(list_transform(
       |          range(1, len(ws) - ${NoveltyGramN - 2}), i -> $gram)) AS g
       |        FROM d)),
       |f AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM grams GROUP BY 1)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  ${OracleMath.stableRoundSql(
          "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS novelty
       |FROM grams JOIN f USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** q294 — unseen-vocabulary estimation per source (Chao1 + Good-Turing
    * coverage): from the frequency-of-frequencies alone — V observed types,
    * f1 singletons, f2 doubletons — estimate how many word types the source
    * HASN'T shown yet (bias-corrected Chao1, V + f1·(f1−1)∕(2·(f2+1))) and
    * what fraction of its token mass future sampling will keep covering
    * (Good-Turing coverage 1 − f1∕N). The forward-looking complement of
    * q291: Heaps' β says how fast vocabulary grows with more data, Chao1
    * says how much is left — both drive tokenizer-vocabulary sizing and
    * how much more of a source is worth crawling.
    *
    * Scale shape: one (source, word)-keyed count aggregate (map-side
    * combined, the q34 shape), then a sources-sized rollup — the f1/f2
    * conditional counts, V and N all come from that single dictionary
    * pass. The Chao1 correction term is an exact-BIGINT numerator over one
    * fixed float division; coverage is one division of exact integers.
    */
  def chao1Vocab(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("source"))
      .agg(count(lit(1)).as("v_obs"), sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("v_obs"), col("n_tokens"), col("f1"), col("f2"),
        OracleMath.stableRound(col("v_obs").cast("double") +
          (col("f1") * (col("f1") - 1)).cast("double") /
            (lit(2.0) * (col("f2") + 1).cast("double")), 4).as("chao1"),
        OracleMath.stableRound(lit(1.0) -
          col("f1").cast("double") / col("n_tokens").cast("double"), 6).as("gt_coverage"))
      .orderBy(col("source"))
  }

  /** The q294 twin — same frequency-of-frequencies rollup and fixed
    * float expressions.
    */
  val chao1VocabOracle: String =
    s"""WITH counts AS (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1, 2),
       |s AS (SELECT source, CAST(count(*) AS BIGINT) AS v_obs,
       |        CAST(sum(c) AS BIGINT) AS n_tokens,
       |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |        CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
       |      FROM counts GROUP BY 1)
       |SELECT source, v_obs, n_tokens, f1, f2,
       |  ${OracleMath.stableRoundSql(
      "CAST(v_obs AS DOUBLE) + CAST(f1 * (f1 - 1) AS DOUBLE) / (2.0 * CAST(f2 + 1 AS DOUBLE))", 4)} AS chao1,
       |  ${OracleMath.stableRoundSql(
      "1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)} AS gt_coverage
       |FROM s ORDER BY source""".stripMargin

  /** Head-vocabulary size for the q300 rank correlation. */
  val SpearmanTopK = 100

  /** q300 — Spearman rank correlation of word usage between source pairs:
    * over the corpus-wide top-[[SpearmanTopK]] words, rank each word within
    * each source by count and correlate the rankings — ρ near 1 means two
    * sources emphasize the same vocabulary in the same order (near-redundant
    * for mixing), ρ near 0 means same words, different emphasis. The
    * ORDINAL companion of q271's KL (distribution mass) and q259's χ²
    * (count homogeneity): rank correlation ignores scale entirely, so a
    * 100× bigger source can still correlate perfectly.
    *
    * Scale shape: the corpus pays one word-count pass; the head vocabulary
    * is a global `orderBy().limit(K)` (TakeOrderedAndProject) broadcast
    * back as a semi-join; per-source ranks are a window over ≤ K rows per
    * source (bounded by the head-vocab filter, never vocabulary-sized);
    * the pair matrix is a self-join of the |sources|·K table. Spearman's
    * ρ = 1 − 6Σd²∕(m(m²−1)) is exact integers until the one final division.
    */
  def spearmanSources(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Tables.documents(spark, dir)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val head = wc.groupBy(col("w")).agg(sum(col("c")).as("ct"))
      .orderBy(col("ct").desc, col("w")).limit(SpearmanTopK)
      .select(col("w"))
    val ranked = wc.join(head, Seq("w"))
      .withColumn("r", row_number().over(
        // bounded: ≤ SpearmanTopK rows per source after the head semi-join
        Window.partitionBy(col("source")).orderBy(col("c").desc, col("w"))).cast("long"))
    val a = ranked.select(col("source").as("src_a"), col("w"), col("r").as("ra"))
    val b = ranked.select(col("source").as("src_b"), col("w"), col("r").as("rb"))
    val m = col("m")
    a.join(b, Seq("w")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("m"),
        sum((col("ra") - col("rb")) * (col("ra") - col("rb"))).as("sum_d2"))
      .select(col("src_a"), col("src_b"), m.as("m_shared"),
        when(m < 2, lit(null).cast("double")).otherwise(
          OracleMath.stableRound(lit(1.0) -
            (lit(6L) * col("sum_d2")).cast("double") / (m * (m * m - 1)).cast("double"), 6))
          .as("rho"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** The q300 twin — same head vocabulary, bounded ranks and exact ρ. */
  val spearmanSourcesOracle: String =
    s"""WITH wc AS (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1, 2),
       |head AS (SELECT w FROM (SELECT w, sum(c) AS ct FROM wc GROUP BY 1)
       |         ORDER BY ct DESC, w LIMIT $SpearmanTopK),
       |ranked AS (
       |  SELECT source, w, CAST(row_number() OVER (
       |    PARTITION BY source ORDER BY c DESC, w) AS BIGINT) AS r
       |  FROM wc JOIN head USING (w)),
       |p AS (SELECT a.source AS src_a, b.source AS src_b,
       |        CAST(count(*) AS BIGINT) AS m,
       |        CAST(sum((a.r - b.r) * (a.r - b.r)) AS BIGINT) AS sum_d2
       |      FROM ranked a JOIN ranked b ON a.w = b.w AND a.source < b.source
       |      GROUP BY 1, 2)
       |SELECT src_a, src_b, m AS m_shared,
       |  CASE WHEN m < 2 THEN NULL ELSE
       |    ${OracleMath.stableRoundSql(
      "1.0 - CAST(6 * sum_d2 AS DOUBLE) / CAST(m * (m * m - 1) AS DOUBLE)", 6)} END AS rho
       |FROM p ORDER BY src_a, src_b""".stripMargin

  /** Hill-estimator order-statistic count for q303. */
  val HillK = 100

  /** q303 — Hill tail-index estimate of the document-length distribution:
    * over the [[HillK]] largest documents, α̂ = k ∕ Σ ln(x_(i) ∕ x_(k+1)) —
    * how heavy is the mega-document tail? α near 1 means the corpus' token
    * mass is dominated by a few giants (packing/chunking and q274's Gini
    * will be driven by them; a shard containing one can straggle a whole
    * stage); α ≥ 3 means the tail is benign. Reported with the tail's
    * exact share of total characters — the operational size of the risk.
    *
    * Scale shape: the top-(k+1) cut is `orderBy().limit()` —
    * TakeOrderedAndProject per-partition heaps, never a global sort — and
    * the totals are one aggregate over the scan. Parity: each ln ratio is
    * ln(x) − ln(x_ref) 6-dp-quantized to DECIMAL before the exact sum (the
    * q223 ln treatment); tail share is exact integers divided once.
    */
  def hillTail(spark: SparkSession, dir: String): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val docs = Tables.documents(spark, dir)
    val top = docs.select(col("doc_id"), col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id")).limit(HillK + 1)
    val ref = top.orderBy(col("n_chars").asc, col("doc_id").desc).limit(1)
      .select(col("n_chars").as("x_ref"))
    val totals = docs.agg(sum(col("n_chars")).as("chars_total"),
      count(lit(1)).as("n_docs"))
    val tail = top.crossJoin(ref)
      // drop the reference row itself: the k largest remain
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
      .filter(col("rn") <= HillK)
      .agg(count(lit(1)).as("k_eff"), // = HillK whenever the corpus has > k docs
        sum(OracleMath.stableRound(
          log(col("n_chars").cast("double")) - log(col("x_ref").cast("double")), 6)
          .cast(d6)).as("sum_ln"),
        sum(col("n_chars")).as("chars_tail"),
        max(col("x_ref")).as("x_ref"))
    tail.crossJoin(totals)
      .select(col("k_eff").as("k"), col("x_ref"), col("n_docs"),
        OracleMath.stableRound(col("sum_ln").cast("double"), 6).as("sum_ln_r"),
        when(col("sum_ln") === 0, lit(null).cast("double")).otherwise(
          OracleMath.stableRound(
            col("k_eff").cast("double") / col("sum_ln").cast("double"), 4)).as("hill_alpha"),
        OracleMath.stableRound(
          col("chars_tail").cast("double") / col("chars_total").cast("double"), 6)
          .as("tail_char_share"))
  }

  /** The q303 twin — same top-(k+1) cut, quantized ln ratios, exact sums. */
  val hillTailOracle: String =
    s"""WITH top AS (SELECT doc_id, n_chars FROM documents
       |             ORDER BY n_chars DESC, doc_id LIMIT ${HillK + 1}),
       |ref AS (SELECT n_chars AS x_ref FROM top
       |        ORDER BY n_chars ASC, doc_id DESC LIMIT 1),
       |tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS chars_total,
       |               CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |ranked AS (SELECT t.n_chars, r.x_ref,
       |             row_number() OVER (ORDER BY t.n_chars DESC, t.doc_id) AS rn
       |           FROM top t, ref r),
       |s AS (SELECT
       |    CAST(count(*) AS BIGINT) AS k_eff,
       |    sum(CAST(${OracleMath.stableRoundSql(
      "ln(CAST(n_chars AS DOUBLE)) - ln(CAST(x_ref AS DOUBLE))", 6)} AS DECIMAL(18,6))) AS sum_ln,
       |    CAST(sum(n_chars) AS BIGINT) AS chars_tail,
       |    max(x_ref) AS x_ref
       |  FROM ranked WHERE rn <= $HillK)
       |SELECT k_eff AS k, x_ref, n_docs,
       |  ${OracleMath.stableRoundSql("CAST(sum_ln AS DOUBLE)", 6)} AS sum_ln_r,
       |  CASE WHEN sum_ln = 0 THEN NULL ELSE
       |    ${OracleMath.stableRoundSql(
      "CAST(k_eff AS DOUBLE) / CAST(sum_ln AS DOUBLE)", 4)} END AS hill_alpha,
       |  ${OracleMath.stableRoundSql(
      "CAST(chars_tail AS DOUBLE) / CAST(chars_total AS DOUBLE)", 6)} AS tail_char_share
       |FROM s, tot""".stripMargin

  /** q305 — pairwise 1-D Wasserstein (earth-mover) distance between source
    * length distributions: W₁(a,b) = ∫|F_a − F_b| over the doc-length axis,
    * the AREA between the CDFs — where q233's KS statistic sees only the
    * single worst gap, W₁ integrates the whole mismatch in character units
    * ("source A's docs are on average ~W₁ characters longer-distributed"),
    * which is the right cost model for packing/truncation planning. The
    * distribution-shape sibling of q295 (embedding space) and q271
    * (vocabulary mass).
    *
    * Exactness: on the shared step support, |F_a∕n_a − F_b∕n_b| =
    * |F_a·n_b − F_b·n_a| ∕ (n_a·n_b) — the numerator is an exact integer,
    * summed weighted by Δv as DECIMAL(38,0) (at 100 TB, F·n reaches ~10¹⁹ —
    * past BIGINT, inside DECIMAL), ONE float division per pair at the end.
    *
    * Scale shape: one (source, length)-keyed count aggregate; everything
    * after lives on the sources × |length domain| grid (the bounded-domain
    * argument of q250/q260 — doc length is capped by ingest policy, so the
    * grid does not grow with N). The per-source CDF windows partition by
    * source over ≤ |domain| rows; the Δv lead runs over the one bounded
    * domain table.
    */
  def wassersteinLengths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val docs = Tables.documents(spark, dir)
    // bounded length domain + the step width to the next support point
    val vdom = docs.select(col("n_chars").as("v")).distinct()
      .withColumn("dv",
        coalesce(lead(col("v"), 1).over(Window.orderBy(col("v"))) - col("v"), lit(0L)))
    val srcs = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val counts = docs.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val grid = srcs.crossJoin(vdom) // |sources| × |domain| — both bounded
      .join(counts, Seq("source", "v"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("v"))))
      .select(col("source"), col("n_src"), col("v"), col("dv"), col("cum"))
    val a = grid.select(col("source").as("src_a"), col("n_src").as("n_a"),
      col("v"), col("dv"), col("cum").as("fa"))
    val b = grid.select(col("source").as("src_b"), col("n_src").as("n_b"),
      col("v"), col("cum").as("fb"))
    a.join(b, Seq("v")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum((abs(col("fa") * col("n_b") - col("fb") * col("n_a")) * col("dv")).cast(d38))
          .as("num"))
      .select(col("src_a"), col("src_b"),
        OracleMath.stableRound(col("num").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 4).as("w1_chars"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** The q305 twin — same grid, integer CDF cross-products, one division. */
  val wassersteinLengthsOracle: String =
    s"""WITH vdom AS (
       |  SELECT v, coalesce(lead(v) OVER (ORDER BY v) - v, 0) AS dv
       |  FROM (SELECT DISTINCT n_chars AS v FROM documents)),
       |srcs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
       |         FROM documents GROUP BY 1),
       |counts AS (SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
       |           FROM documents GROUP BY 1, 2),
       |grid AS (
       |  SELECT s.source, s.n_src, d.v, d.dv,
       |    sum(coalesce(c.c, 0)) OVER (PARTITION BY s.source ORDER BY d.v) AS cum
       |  FROM srcs s CROSS JOIN vdom d
       |  LEFT JOIN counts c ON c.source = s.source AND c.v = d.v)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  ${OracleMath.stableRoundSql(
      "CAST(sum(CAST(abs(a.cum * b.n_src - b.cum * a.n_src) * a.dv AS HUGEINT)) AS DOUBLE) " +
        "/ CAST(max(a.n_src) * max(b.n_src) AS DOUBLE)", 4)} AS w1_chars
       |FROM grid a JOIN grid b ON a.v = b.v AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

  // -- DuckDB oracle twins of the registry queries built here (SparkEntry.registry)
  def tokenStatsOracle: String =
    s"""SELECT doc_id,
      | CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
      | CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct,
      | ${OracleMath.stableRoundSql("CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' '))", 4)} AS ttr,
      | ${OracleMath.stableRoundSql("CAST(list_sum(list_transform(string_split(text,' '), w -> CAST(length(w) AS BIGINT))) AS DOUBLE) / len(string_split(text,' '))", 4)} AS mean_wlen
      |FROM documents ORDER BY doc_id""".stripMargin
  def langIdOracle: String =
    s"""SELECT doc_id, lang,
       | CAST(len(list_filter(string_split(text,' '), w -> w IN (${enStop.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS s_en,
       | CAST(len(list_filter(string_split(text,' '), w -> w IN (${deStop.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS s_de,
       | CAST(len(list_filter(string_split(text,' '), w -> w IN (${esStop.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS s_es,
       | CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en' WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS lang_pred
       |FROM documents ORDER BY doc_id""".stripMargin
  def qualityScoreOracle: String =
    s"""SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       | ${OracleMath.stableRoundSql("sw / CAST(n_tok AS DOUBLE)", 4)} AS stopword_ratio,
       | $qualitySql AS quality
       |FROM (SELECT doc_id, $qualityColsSql
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  def fingerprintOracle: String =
    s"""SELECT doc_id,
       | list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text,' '), w -> ${TextFunctions.wordHashSql("w")})), (acc,h) -> (acc*131+h) % ${P}) AS fp
       |FROM documents ORDER BY doc_id""".stripMargin
  def wordFreqOracle: String =
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents)
      |GROUP BY 1 ORDER BY cnt DESC, word LIMIT 100""".stripMargin
  def subwordTokensOracle: String =
    """SELECT doc_id,
      | CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
      | CAST(len(regexp_extract_all(text, '[^aeiou ]*[aeiou]+')) AS BIGINT) AS n_subwords
      |FROM documents ORDER BY doc_id""".stripMargin
  def bigramFreqOracle: String =
    """SELECT ngram AS bigram, count(*) AS cnt
      |FROM (SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS ngram
      |      FROM (SELECT string_split(text, ' ') AS ws FROM documents))
      |GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin
  def posTokensOracle: String =
    """SELECT doc_id, CAST(unnest(range(len(ws))) AS BIGINT) AS pos, unnest(ws) AS word
      |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |ORDER BY doc_id, pos""".stripMargin
  def packSequencesOracle: String =
    """SELECT doc_id, n_tokens,
      | CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS pack_id
      |FROM (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents)
      |ORDER BY doc_id""".stripMargin
  def repetitionRatioOracle: String =
    s"""SELECT doc_id, n_tri, n_uniq,
       | CASE WHEN n_tri = 0 THEN 0.0
       |      ELSE ${OracleMath.stableRoundSql("1.0 - CAST(n_uniq AS DOUBLE) / n_tri", 4)} END AS dup_ratio
       |FROM (SELECT doc_id,
       |        CAST(len(tris) AS BIGINT) AS n_tri,
       |        CAST(len(list_distinct(tris)) AS BIGINT) AS n_uniq
       |      FROM (SELECT doc_id,
       |              list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS tris
       |            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)))
       |ORDER BY doc_id""".stripMargin
  def redactPiiOracle: String =
    s"""WITH dirty AS (
       |  SELECT doc_id,
       |    text || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1555'
       |         || CAST(n_chars AS VARCHAR) || ' see https://ex.example.com/d/' || CAST(doc_id AS VARCHAR) AS d
       |  FROM documents),
       |red AS (
       |  SELECT doc_id, d,
       |    regexp_replace(regexp_replace(regexp_replace(d,
       |      'https?://[^ ]+', '<URL>', 'g'),
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |      '[0-9][0-9][0-9]+', '<NUM>', 'g') AS r
       |  FROM dirty)
       |SELECT doc_id,
       | CAST(len(regexp_extract_all(d, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       | CAST(len(regexp_extract_all(d, 'https?://[^ ]+')) AS BIGINT) AS n_url,
       | CAST(len(regexp_extract_all(d, '[0-9][0-9][0-9]+')) AS BIGINT) AS n_num,
       | CAST(length(r) AS BIGINT) AS red_len,
       | substring(r, greatest(length(r) - 59, 1), 60) AS red_tail
       |FROM red ORDER BY doc_id""".stripMargin
  def explodeOuterTokensOracle: String =
    """SELECT d.doc_id, t.w
      |FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) >= 8) AS l
      |      FROM documents) d
      |LEFT JOIN LATERAL (SELECT unnest(d.l) AS w) t ON true
      |ORDER BY doc_id, w NULLS FIRST""".stripMargin
  def contaminationOracle: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws
       |              FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |grams AS (SELECT DISTINCT doc_id, g FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g FROM toks)),
       |train AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 <> 0),
       |test AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 = 0)
       |SELECT test.doc_id AS doc_id, count(*) AS n_grams,
       | count(train.g) AS n_contaminated,
       | ${OracleMath.stableRoundSql("CAST(count(train.g) AS DOUBLE) / count(*)", 4)} AS ratio
       |FROM test LEFT JOIN train ON test.g = train.g
       |GROUP BY 1 ORDER BY 1""".stripMargin
  def boilerplateGramsOracle: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws
       |              FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |grams AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g FROM toks),
       |total AS (SELECT count(DISTINCT doc_id) AS n_docs FROM grams),
       |boiler AS (SELECT g FROM
       |  (SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY 1), total
       |  WHERE df * 10 > n_docs)
       |SELECT doc_id, count(*) AS n_grams, count(boiler.g) AS n_boiler,
       | ${OracleMath.stableRoundSql("CAST(count(boiler.g) AS DOUBLE) / count(*)", 4)} AS ratio
       |FROM grams LEFT JOIN boiler ON grams.g = boiler.g
       |GROUP BY 1 ORDER BY 1""".stripMargin
  def heavyHittersOracle: String =
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
      |cnt AS (SELECT source, word, count(*) AS cnt_exact FROM toks GROUP BY 1, 2),
      |top3 AS (SELECT source, word, cnt_exact FROM (
      |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY cnt_exact DESC, word) AS rk
      |  FROM cnt) WHERE rk <= 3)
      |SELECT source, word, cnt_exact, TRUE AS mg_ok
      |FROM top3 ORDER BY source, word""".stripMargin
  def dupSpansOracle: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id, unnest(range(0, len(ws) - 7)) AS pos, ws
       |      FROM toks WHERE len(ws) >= 8),
       |g2 AS (SELECT doc_id, pos, array_to_string(ws[pos+1:pos+8], ' ') AS gram FROM g),
       |dup AS (SELECT gram FROM (
       |  SELECT gram, count(DISTINCT doc_id) AS df FROM g2 GROUP BY 1) WHERE df >= 2),
       |hits AS (SELECT DISTINCT doc_id, idx FROM (
       |  SELECT g2.doc_id, unnest(range(pos, pos + 8)) AS idx
       |  FROM g2 JOIN dup USING (gram))),
       |cov AS (SELECT doc_id, count(*) AS n_covered FROM hits GROUP BY 1)
       |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
       | coalesce(cov.n_covered, 0) AS n_covered,
       | ${OracleMath.stableRoundSql("CAST(coalesce(cov.n_covered, 0) AS DOUBLE) / len(t.ws)", 4)} AS ratio
       |FROM toks t LEFT JOIN cov USING (doc_id) ORDER BY t.doc_id""".stripMargin
  def spanRemovalOracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tok AS (SELECT doc_id, unnest(range(0, len(ws))) AS idx, ws FROM toks),
      |tok2 AS (SELECT doc_id, idx, ws[idx+1] AS word FROM tok),
      |g AS (SELECT doc_id, unnest(range(0, len(ws) - 7)) AS pos, ws
      |      FROM toks WHERE len(ws) >= 8),
      |g2 AS (SELECT doc_id, pos, array_to_string(ws[pos+1:pos+8], ' ') AS gram FROM g),
      |dup AS (SELECT gram FROM (
      |  SELECT gram, count(DISTINCT doc_id) AS df FROM g2 GROUP BY 1) WHERE df >= 2),
      |hits AS (SELECT DISTINCT doc_id, idx FROM (
      |  SELECT g2.doc_id, unnest(range(pos, pos + 8)) AS idx
      |  FROM g2 JOIN dup USING (gram))),
      |isl AS (SELECT doc_id, count(DISTINCT grp) AS n_spans, count(*) AS n_removed FROM (
      |  SELECT doc_id, idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS grp
      |  FROM hits) GROUP BY 1),
      |kept AS (SELECT t.doc_id, string_agg(t.word, ' ' ORDER BY t.idx) AS cleaned
      |         FROM tok2 t ANTI JOIN hits h ON t.doc_id = h.doc_id AND t.idx = h.idx
      |         GROUP BY 1)
      |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
      | coalesce(isl.n_removed, 0) AS n_removed,
      | coalesce(isl.n_spans, 0) AS n_spans,
      | md5(coalesce(k.cleaned, '')) AS cleaned_md5
      |FROM toks t
      |LEFT JOIN isl USING (doc_id)
      |LEFT JOIN kept k USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin
  def curationFunnelOracle: String =
    s"""WITH raw AS (SELECT doc_id, text, string_split(text, ' ') AS ws,
      |                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |             FROM documents),
      |d2 AS (SELECT doc_id, text, ws, n FROM (
      |  SELECT *, min(doc_id) OVER (PARTITION BY text) AS m FROM raw) WHERE doc_id = m),
      |d3 AS (SELECT doc_id, text, ws, n FROM (
      |  SELECT *, min(doc_id) OVER (PARTITION BY list_sort(list_distinct(ws))) AS m FROM d2)
      |  WHERE doc_id = m),
      |d4 AS (SELECT doc_id, ws, n FROM d3
      |       WHERE n BETWEEN 10 AND 2000 AND length(text) - (n - 1) <= 12 * n),
      |g AS (SELECT doc_id, unnest(range(0, n - 7)) AS pos, ws FROM d4 WHERE n >= 8),
      |g2 AS (SELECT doc_id, pos, array_to_string(ws[pos+1:pos+8], ' ') AS gram FROM g),
      |dup AS (SELECT gram FROM (
      |  SELECT gram, count(DISTINCT doc_id) AS df FROM g2 GROUP BY 1) WHERE df >= 2),
      |hits AS (SELECT DISTINCT doc_id, idx FROM (
      |  SELECT g2.doc_id, unnest(range(pos, pos + 8)) AS idx
      |  FROM g2 JOIN dup USING (gram))),
      |kept AS (SELECT d4.doc_id, d4.n - coalesce(h.c, 0) AS nk
      |         FROM d4 LEFT JOIN (SELECT doc_id, count(*) AS c FROM hits GROUP BY 1) h
      |         USING (doc_id))
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS stage_id, 'raw' AS stage,
      |         count(*) AS n_units, CAST(sum(n) AS BIGINT) AS n_tokens FROM raw
      |  UNION ALL SELECT 2, 'exact_dedup', count(*), CAST(sum(n) AS BIGINT) FROM d2
      |  UNION ALL SELECT 3, 'wordset_dedup', count(*), CAST(sum(n) AS BIGINT) FROM d3
      |  UNION ALL SELECT 4, 'quality_band', count(*), CAST(sum(n) AS BIGINT) FROM d4
      |  UNION ALL SELECT 5, 'span_removal',
      |    CAST(sum(CASE WHEN nk > 0 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(nk) AS BIGINT) FROM kept
      |  UNION ALL SELECT 6, 'packed_$PackSeqLen',
      |    CAST((sum(nk) + ${PackSeqLen - 1}) // $PackSeqLen AS BIGINT),
      |    CAST(sum(nk) AS BIGINT) FROM kept)
      |ORDER BY stage_id""".stripMargin
  // q155: the q151 round UNROLLED SpanFixpointRounds times — each round's
  // CTE block is generated from the same constants as the Scala loop, and
  // a converged round is the identity, so the unroll equals the Spark
  // side's early-exited fixpoint whether or not convergence came early.
  def spanRemovalFixpointOracle: String = {
    val w = 8
    val rounds = (1 to SpanFixpointRounds).map { i =>
      val prev = s"c${i - 1}"
      s"""g$i AS (SELECT doc_id, unnest(range(0, len(ws) - ${w - 1})) AS pos, ws
         |      FROM $prev WHERE len(ws) >= $w),
         |g2_$i AS (SELECT doc_id, pos, array_to_string(ws[pos+1:pos+$w], ' ') AS gram FROM g$i),
         |dup$i AS (SELECT gram FROM (
         |  SELECT gram, count(DISTINCT doc_id) AS df FROM g2_$i GROUP BY 1) WHERE df >= 2),
         |hits$i AS (SELECT DISTINCT doc_id, idx FROM (
         |  SELECT g2_$i.doc_id, unnest(range(pos, pos + $w)) AS idx
         |  FROM g2_$i JOIN dup$i USING (gram))),
         |k$i AS (SELECT t.doc_id, list(t.word ORDER BY t.idx) AS ws
         |        FROM (SELECT doc_id, idx, ws[idx+1] AS word FROM
         |              (SELECT doc_id, unnest(range(0, len(ws))) AS idx, ws FROM $prev)) t
         |        ANTI JOIN hits$i h ON t.doc_id = h.doc_id AND t.idx = h.idx
         |        GROUP BY 1),
         |c$i AS (SELECT p.doc_id, coalesce(k.ws, CAST([] AS VARCHAR[])) AS ws
         |        FROM $prev p LEFT JOIN k$i k USING (doc_id))""".stripMargin
    }.mkString(",\n")
    val touched = (1 to SpanFixpointRounds)
      .map(i => s"(CASE WHEN len(c$i.ws) < len(c${i - 1}.ws) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val joins = (1 to SpanFixpointRounds).map(i => s"JOIN c$i USING (doc_id)").mkString(" ")
    val last = s"c$SpanFixpointRounds"
    s"""WITH c0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |$rounds
       |SELECT c0.doc_id, CAST(len(c0.ws) AS BIGINT) AS n_tokens,
       | CAST(len(c0.ws) - len($last.ws) AS BIGINT) AS n_removed,
       | CAST($touched AS BIGINT) AS n_rounds_touched,
       | md5(coalesce(array_to_string($last.ws, ' '), '')) AS cleaned_md5
       |FROM c0 $joins
       |ORDER BY c0.doc_id""".stripMargin
  }
  def bpeMergesOracle: String =
    s"""WITH $bpeTrainCtes
       |SELECT CAST(round AS BIGINT) AS round, sym_a, sym_b, merged, freq FROM (
       |${(1 to BpeRounds).map { k =>
             s"SELECT $k AS round, a AS sym_a, b AS sym_b, a || b AS merged, cnt AS freq FROM m$k"
           }.mkString("\nUNION ALL\n")}
       |) ORDER BY round""".stripMargin
  def bpeEncodeOracle: String =
    s"""WITH $bpeTrainCtes,
       |enc AS (SELECT word, CAST(len(string_split(trim(r, '$M'), '$M$M')) AS BIGINT) AS n_sub
       |        FROM d$BpeRounds),
       |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |SELECT doc_id, count(*) AS n_words,
       | CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       | CAST(sum(len(word)) AS BIGINT) AS n_chars,
       | ${OracleMath.stableRoundSql("CAST(sum(len(word)) AS DOUBLE) / sum(n_sub)", 4)} AS chars_per_token
       |FROM t JOIN enc USING (word)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  def frequentPairsOracle: String =
    s"""WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM documents),
      |tot AS (SELECT count(*) AS n_docs FROM d),
      |fw AS (SELECT doc_id, unnest(ws) AS w FROM d),
      |keep AS (SELECT w, count(*) AS df FROM fw GROUP BY 1
      |         HAVING count(*) * $PairSupportDenom >= (SELECT n_docs FROM tot)),
      |fk AS (SELECT fw.doc_id, fw.w FROM fw JOIN keep USING (w)),
      |p AS (SELECT a.w AS w_a, b.w AS w_b, count(*) AS support
      |      FROM fk a JOIN fk b ON a.doc_id = b.doc_id AND a.w < b.w
      |      GROUP BY 1, 2)
      |SELECT w_a, w_b, support, ka.df AS df_a, kb.df AS df_b,
      | ${OracleMath.stableRoundSql("CAST(support AS DOUBLE) * n_docs / (ka.df * kb.df)", 6)} AS lift_r
      |FROM p JOIN keep ka ON ka.w = p.w_a JOIN keep kb ON kb.w = p.w_b, tot
      |WHERE support * $PairSupportDenom >= n_docs
      |ORDER BY support DESC, w_a, w_b""".stripMargin
  def budgetTrimOracle: String =
    s"""WITH base AS (SELECT doc_id, source, $qualityColsSql
       |      FROM documents),
       |q AS (SELECT doc_id, source, n_tok,
       |       $qualitySql AS quality_r
       |      FROM base),
       |c AS (SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY source
       |        ORDER BY quality_r DESC, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |      FROM q)
       |SELECT source, doc_id, quality_r, CAST(n_tok AS BIGINT) AS n_tokens,
       | CAST(cum_before + n_tok AS BIGINT) AS cum_tokens
       |FROM c WHERE cum_before < $TrimBudgetTokens
       |ORDER BY source, quality_r DESC, doc_id""".stripMargin
}
