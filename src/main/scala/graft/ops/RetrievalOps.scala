package graft.ops

import graft.ops.Caches.Tracked

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Retrieval + curation-hygiene operators for a training-data pipeline:
  * BM25 keyword retrieval over the corpus, embedding-space eval/train
  * contamination checking, and leakage-safe (cluster-aware) train/test
  * splitting. These extend the reference's capability surface the same way
  * the dedup/similarity families do — the reference's own "analytics" are
  * the two dashboard SQL queries
  * (`datalens_dashboard/sql_queries/vacancy_analysis.sql:11-31`); a modern
  * LLM-data pipeline additionally needs retrieval (for targeted curation),
  * benchmark-contamination checks, and split hygiene.
  */
object RetrievalOps {

  // ---------------------------------------------------------------------------
  // q157: BM25 top-k keyword retrieval
  // ---------------------------------------------------------------------------

  /** The fixed query-term set (single-sourced into the oracle SQL so the
    * operator and its twin cannot drift). Terms chosen from the synthetic
    * vocabulary with distinct document frequencies.
    */
  val Bm25Terms: Seq[String] = Seq("spark", "join", "window")
  val Bm25K1 = 1.2
  val Bm25B  = 0.75
  val Bm25TopK = 10

  /** BM25-scored top-k retrieval for a fixed conjunctive query.
    *
    * Plan shape for 100 TB: the exploded token stream is filtered to the
    * query terms BEFORE any shuffle, so only matching postings (|terms| ×
    * matching docs rows, not the corpus) ever move; document length is a
    * row-local `size(split(...))` (no second pass over tokens); corpus
    * stats (N, total length) and per-term document frequencies are tiny
    * aggregates broadcast back; and the global top-k is `orderBy().limit(k)`
    * — Spark's TakeOrderedAndProject (per-partition heap + driver merge of
    * k·partitions rows), NOT a single-partition window sort.
    *
    * Determinism: the three per-term scores are summed in one fixed textual
    * order (spark + join + window) via conditional aggregation — never a
    * data-order-dependent float sum — and ranking uses the 4-dp-rounded
    * total with doc_id tiebreak, so both engines rank identically.
    */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = bm25PerDoc(spark, dir)
    val top = perDoc
      .orderBy(col("score_total").desc, col("doc_id"))
      .limit(Bm25TopK)
    val cols = Seq(col("doc_id")) ++
      Bm25Terms.map(t => OracleMath.stableRound(coalesce(col(s"s_$t"), lit(0.0)), 4).as(s"s_$t")) ++
      Seq(col("score_total"),
        row_number().over(Window.orderBy(col("score_total").desc, col("doc_id"))).cast("long").as("rnk"))
    top.select(cols: _*).orderBy(col("rnk"))
  }

  /** Per-matching-doc BM25 scores (doc_id, s_<term>…, score_total) — shared
    * by q157's top-k and q182's rank-fusion.
    */
  private def bm25PerDoc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("dl"))

    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))

    val postings = docs
      .select(col("doc_id"), col("dl"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))

    // idf = ln((N - df + 0.5) / (df + 0.5) + 1.0)  [the "+1" Lucene variant —
    // always positive]; score = idf * (tf*(k1+1)) / (tf + k1*(1-b + b*dl/avgdl)).
    // 2.2 and 0.25 are written as literals (not k1+1.0 / 1.0-b expressions):
    // 1.2+1.0 in doubles lands exactly on a round-to-even boundary, so the
    // committed literal is the single source of truth in BOTH engines.
    val avgdl = col("total_len").cast("double") / col("n_docs")
    val idf = log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val score = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(Bm25K1) * (lit(0.25) + lit(Bm25B) * (col("dl").cast("double") / avgdl)))

    val scored = postings
      .join(broadcast(dfreq), "term")
      .crossJoin(stats)
      .select(col("doc_id"), col("term"), score.as("score"))

    val perTerm = Bm25Terms.map { t =>
      max(when(col("term") === t, col("score"))).as(s"s_$t")
    }
    val total = Bm25Terms.map(t => coalesce(col(s"s_$t"), lit(0.0)))
      .reduceLeft(_ + _)

    scored
      .groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail: _*)
      .withColumn("score_total", OracleMath.stableRound(total, 4))
  }

  /** RRF fusion constants (Cormack et al.'s k=60) — single-sourced into the
    * q182 twin.
    */
  val RrfK = 60L
  val RrfCandidates = 50L
  val RrfTopK = 20

  /** Hybrid retrieval: BM25 keyword ranks fused with embedding-kNN ranks by
    * reciprocal-rank fusion — rrf(d) = Σ 1/(k + rank_i(d)) over the rankers
    * that surfaced d in their top-[[RrfCandidates]]. The standard "sparse +
    * dense" production retrieval stack (each ranker covers the other's
    * blind spots) expressed as two independent rank lists and ONE full-outer
    * join on the doc id; the fusion arithmetic is two fixed-order IEEE
    * divisions and one add — engine-identical, so the fused ranking
    * hash-matches.
    *
    * Scale shape: each ranker's top-[[RrfCandidates]] cut is
    * `orderBy().limit(N)` — Spark's TakeOrderedAndProject (per-partition
    * heaps + driver merge of N·partitions rows, the q157 pattern), NEVER a
    * corpus-sized unpartitioned rank window — and only the N survivors are
    * then ranked (a window over N rows). So the fusion join moves ≤ 2N
    * skinny rows regardless of corpus size, and nothing corpus-sized ever
    * collapses into one task. The limit-then-rank rewrite is exact because
    * both orderings are TOTAL (unique doc_id / vec_id tiebreak): the top-N
    * rows ARE the rows with rank ≤ N, and ranking the survivors reproduces
    * their global ranks.
    */
  def hybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val rb = bm25PerDoc(spark, dir)
      .orderBy(col("score_total").desc, col("doc_id"))
      .limit(RrfCandidates.toInt)
      .withColumn("rb", row_number().over(
        Window.orderBy(col("score_total").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id").as("id_b"), col("rb"))
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === 0L).select(col("embedding").as("q_emb"))
    val rv = e.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        OracleMath.stableRound(SimilarityOps.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(RrfCandidates.toInt)
      .withColumn("rv", row_number().over(
        Window.orderBy(col("sim").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("id_v"), col("rv"))
    val rrf = coalesce(lit(1.0) / (lit(RrfK) + col("rb")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfK) + col("rv")), lit(0.0))
    rb.join(rv, col("id_b") === col("id_v"), "full_outer")
      .select(coalesce(col("id_b"), col("id_v")).as("id"),
        coalesce(col("rb"), lit(-1L)).as("rank_bm25"),
        coalesce(col("rv"), lit(-1L)).as("rank_knn"),
        rrf.as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(RrfTopK)
      .select(col("id"), col("rank_bm25"), col("rank_knn"),
        OracleMath.stableRound(col("rrf"), 8).as("rrf_r"),
        row_number().over(Window.orderBy(col("rrf").desc, col("id"))).cast("long").as("rank"))
      .orderBy(col("rank"))
  }

  // ---------------------------------------------------------------------------
  // q238: MMR (maximal marginal relevance) diversified re-ranking
  // ---------------------------------------------------------------------------

  /** MMR trade-off λ and sizes — 0.5 is exact in binary floating point, so
    * λ·rel − (1−λ)·maxsim is the same IEEE arithmetic in both engines.
    */
  val MmrLambda = 0.5
  val MmrCandidates = 20
  val MmrK = 10

  /** MMR diversified re-ranking of the embedding-kNN candidate list — the
    * standard step after hybrid retrieval (q157/q182): greedily select k of
    * the top-[[MmrCandidates]] candidates, each round picking the argmax of
    * `λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)` (relevance traded against
    * redundancy with what is already selected).
    *
    * Greedy selection is a TRUE sequential dependence — round r's scores
    * depend on rounds 1..r−1's picks — so no window frame expresses it. Like
    * q197's clamped balance it runs as a row-local ordered fold
    * (`aggregate()` over the round sequence); the fold's working set is the
    * CANDIDATE list, which is top-N-bounded before anything else happens, so
    * the single folded row is O(N²) small regardless of corpus size (the
    * corpus-sized work — scoring + top-N — is the same parallel scan q182
    * uses, and with many queries the fold parallelizes per query).
    *
    * Determinism: rel and the N² pairwise cosines are 6-dp-rounded BEFORE
    * the fold, each round's argmax is a struct-max on (score, −id) — max
    * score, then min id — and the DuckDB twin unrolls the same k rounds as
    * chained argmax CTEs over the same rounded inputs, so every selection
    * and every emitted score hash-matches.
    */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame =
    mmrRerankOn(spark, Tables.embeddings(spark, dir))

  /** [[mmrRerank]] over any (vec_id, embedding) frame — vec_id 0 is the
    * query; exposed so the degenerate-corpus path (< [[MmrK]] candidates)
    * is spec-testable without a second parquet fixture.
    */
  private[graft] def mmrRerankOn(spark: SparkSession, e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") === 0L).select(col("embedding").as("q_emb"))
    val cand = e.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"),
        OracleMath.stableRound(SimilarityOps.cosine(col("embedding"), col("q_emb")), 6).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MmrCandidates)
    // pairwise cosines among the bounded candidates: N² skinny rows
    val pair = cand.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      .join(broadcast(cand.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))),
        col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        OracleMath.stableRound(SimilarityOps.cosine(col("emb_a"), col("emb_b")), 6).as("sim"))
    val perCand = pair.groupBy(col("id_a"))
      .agg(array_sort(collect_list(struct(col("id_b").as("oid"), col("sim").as("sim")))).as("sims"))
    val folded = cand.join(perCand, col("vec_id") === col("id_a"))
      .select(struct(col("vec_id").as("id"), col("rel").as("rel"), col("sims").as("sims")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("cs"))
    // greedy fold: state = selected [{id, rel, score}]; each round takes the
    // struct-max of (score, -id) over the unselected candidates, where score
    // uses the max similarity to the selected set (0 when none selected).
    // The singleton-array transform is the q187 let-binding for the argmax.
    val lam = MmrLambda
    val selExpr =
      s"""aggregate(
         |  sequence(1, $MmrK),
         |  CAST(array() AS ARRAY<STRUCT<id: BIGINT, rel: DOUBLE, score: DOUBLE>>),
         |  (sel, r) -> array_append(sel,
         |    element_at(
         |      transform(
         |        array(array_max(transform(
         |          filter(cs, c -> NOT exists(sel, s -> s.id = c.id)),
         |          c -> struct(
         |            $lam * c.rel - ${1.0 - lam} * coalesce(
         |              array_max(transform(
         |                filter(c.sims, p -> exists(sel, s -> s.id = p.oid)),
         |                p -> p.sim)),
         |              CAST(0.0 AS DOUBLE)) AS score,
         |            -c.id AS negid,
         |            c.rel AS rel)))),
         |        m -> struct(-m.negid AS id, m.rel AS rel, m.score AS score)),
         |      1)))""".stripMargin
    // Degenerate-corpus guard: with fewer than MmrK candidates the fold's
    // remaining rounds argmax over an EMPTY unselected set — array_max
    // yields a null struct that would surface as null-id rows (the DuckDB
    // twin simply stops emitting). Dropping null-id entries before the
    // explode makes both engines stop at |candidates| selections; inside the
    // fold the null entries are inert (`s.id = c.id` is NULL ⇒ exists=false).
    folded
      .select(posexplode(expr(s"filter($selExpr, s -> s.id IS NOT NULL)"))
        .as(Seq("pos", "s")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("vec_id"), col("s.rel").as("rel"),
        OracleMath.stableRound(col("s.score"), 6).as("mmr_score"))
      .orderBy(col("rank"))
  }

  /** Unrolled-greedy DuckDB twin: k chained argmax CTEs, each one round of
    * the same selection over the same 6-dp-rounded inputs.
    */
  def mmrRerankOracle: String = {
    val lam = MmrLambda
    val rounds = (1 to MmrK).map { r =>
      val prev = s"sel${r - 1}"
      s"""pick$r AS MATERIALIZED (
         |  SELECT c.vec_id AS id, c.rel,
         |    $lam * c.rel - ${1.0 - lam} * coalesce(
         |      (SELECT max(p.sim) FROM pair p JOIN $prev s ON p.id_a = c.vec_id AND p.id_b = s.id),
         |      0.0) AS score
         |  FROM cand c WHERE c.vec_id NOT IN (SELECT id FROM $prev)
         |  ORDER BY score DESC, c.vec_id LIMIT 1),
         |sel$r AS MATERIALIZED (SELECT id, rel, score, rank FROM $prev
         |          UNION ALL SELECT id, rel, score, $r AS rank FROM pick$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
       |cand AS MATERIALIZED (
       |  SELECT vec_id, embedding, rel FROM (
       |    SELECT e.vec_id, e.embedding,
       |      ${OracleMath.stableRoundSql(SimilarityOps.cosSql("e.embedding", "q.q_emb"), 6)} AS rel,
       |      row_number() OVER (ORDER BY
       |        ${OracleMath.stableRoundSql(SimilarityOps.cosSql("e.embedding", "q.q_emb"), 6)} DESC,
       |        e.vec_id) AS rn
       |    FROM embeddings e, q WHERE e.vec_id <> 0)
       |  WHERE rn <= $MmrCandidates),
       |pair AS MATERIALIZED (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |           ${OracleMath.stableRoundSql(SimilarityOps.cosSql("a.embedding", "b.embedding"), 6)} AS sim
       |         FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |sel0 AS (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS DOUBLE) AS rel,
       |                CAST(NULL AS DOUBLE) AS score, CAST(NULL AS INTEGER) AS rank
       |         WHERE FALSE),
       |$rounds
       |SELECT CAST(rank AS BIGINT) AS rank, id AS vec_id, rel,
       |  ${OracleMath.stableRoundSql("score", 6)} AS mmr_score
       |FROM sel$MmrK ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q159: embedding-space eval/train contamination check
  // ---------------------------------------------------------------------------

  /** Eval-split constants: ~`EvalPct`% of vectors by a multiplicative hash
    * of vec_id (a DIFFERENT multiplier than q83's split and q103's mixture
    * hashes, so the three stay statistically independent). At production
    * key ranges this would be xxhash64; the small constant keeps the oracle
    * arithmetic exactly reproducible in SQL.
    */
  val EvalHashMult = 2246822519L
  val EvalPct = 5L

  /** The deterministic eval-split predicate over `vec_id`, shared by every
    * eval/train query (q159, q161, q276, q279, q298, q306, q344); the train
    * side is its negation.
    */
  def isEval: Column = pmod(col("vec_id") * lit(EvalHashMult), lit(100L)) < lit(EvalPct)

  /** Oracle twin of [[isEval]]: eval rows are `WHERE <evalSql>`, train rows
    * `WHERE NOT (<evalSql>)`.
    */
  val evalSql: String = s"(vec_id * $EvalHashMult) % 100 < $EvalPct"
  val ContamThreshold = 0.30

  /** Embedding-space contamination check: which training vectors are
    * near-duplicates (cosine ≥ threshold) of a held-out eval set — the
    * embedding-level analogue of q139's n-gram benchmark-contamination scan.
    *
    * Plan shape for 100 TB: the eval set is a small deterministic slice, so
    * it is BROADCAST and the train side streams through in ONE pass (scan →
    * broadcast-nested-loop → per-vector partial max) — no shuffle of the
    * train corpus; the only exchange is the tiny per-label rollup. max() is
    * order-independent, so the per-vector max cosine is deterministic under
    * any partitioning.
    */
  def embedContamination(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val eval  = e.filter(isEval).select(col("embedding").as("q_emb"))
    val train = e.filter(!isEval)

    val perVec = train.crossJoin(broadcast(eval))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(SimilarityOps.cosine(col("embedding"), col("q_emb"))).as("max_sim"))

    perVec.groupBy(col("label"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("max_sim") >= lit(ContamThreshold), 1L).otherwise(0L)).as("n_contaminated"),
        OracleMath.stableRound(max(col("max_sim")), 6).as("max_sim"))
      .orderBy(col("label"))
  }

  // ---------------------------------------------------------------------------
  // q160: leakage-safe (cluster-aware) train/test split
  // ---------------------------------------------------------------------------

  val SplitHashMultNaive = 2654435761L // q83's doc-level split hash — reused AS the naive baseline
  val SplitTrainPct = 90L

  /** Cluster-aware train/test split: all members of a duplicate group (q36's
    * sorted-distinct-wordset identity) are assigned to the SAME split by
    * hashing the group key, not the doc id — a near-duplicate of a training
    * document can never land in test. The output quantifies exactly the
    * leakage a naive per-document hash split (q83) would have caused:
    * `naive_leaky_groups` counts this split's groups whose members straddle
    * the naive assignment.
    *
    * Plan shape for 100 TB: group identity is the md5 of the joined wordset
    * — a 32-byte derived key — so the single shuffle moves (md5, n_chars,
    * flags), never document text; both rollups after it are tiny. Split
    * assignment is a pure function of the group key (retry-stable,
    * partition-count-invariant), the same 48-bit md5-prefix integer
    * primitive as q140/q150.
    */
  def clusterSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val wkey = TextFunctions.wordSetKey(col("text"))
    val naiveTrain = pmod(col("doc_id") * lit(SplitHashMultNaive), lit(100L)) < lit(SplitTrainPct)

    val groups = docs
      .select(wkey.as("wkey"), col("n_chars"),
        when(naiveTrain, 1L).otherwise(0L).as("naive_train"))
      .groupBy(col("wkey"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(col("naive_train")).as("n_naive_train"))

    val splitCol = when(
      pmod(conv(substring(col("wkey"), 1, 12), 16, 10).cast("long"), lit(100L)) < lit(SplitTrainPct),
      "train").otherwise("test")

    groups
      .groupBy(splitCol.as("split"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("sum_chars")).as("sum_chars"),
        sum(when(col("n_naive_train") > 0 && col("n_naive_train") < col("n_docs"), 1L)
          .otherwise(0L)).as("naive_leaky_groups"))
      .orderBy(col("split"))
  }

  // ---------------------------------------------------------------------------
  // q161: measured IVF recall@k against the exact top-k (per query vector)
  // ---------------------------------------------------------------------------

  val IvfNProbe = 3
  val IvfK = 10

  /** Measured recall@k of the IVF index (q43 centroids + q56 assignments,
    * probing `IvfNProbe` of the coarse lists) against the exact brute-force
    * top-k, over the SAME held-out eval slice q159 uses as its query
    * workload — the vector-index counterpart of q153's per-band LSH recall
    * rollup: the instrumentation that tells you whether nprobe is set right
    * BEFORE you trust the index at 100 TB.
    *
    * Plan shape: queries and centroids are tiny broadcasts; the IVF path
    * touches only `nprobe/nlists` of the train side per query (the point of
    * the index); the exact path is a one-pass broadcast-nested-loop over
    * train — brute force by declared role (it is the measurement's ground
    * truth, run over a sampled query workload, exactly how production recall
    * audits work). Both top-k sets rank by (6-dp-rounded cosine, vec_id), so
    * the sets — not just the scores — are deterministic and engine-identical.
    */
  def ivfRecall(spark: SparkSession, dir: String, nprobe: Int = IvfNProbe): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val qs = e.filter(isEval).select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val train = e.filter(!isEval).select(col("vec_id"), col("embedding"))

    val wTop = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("c_label"))

    val probes = SimilarityOps.centroidTable(spark, dir).crossJoin(broadcast(qs))
      .select(col("q_id"), col("q_emb"), col("c_label"),
        OracleMath.stableRound(SimilarityOps.cosine(col("q_emb"), col("centroid")), 6).as("sim"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("c_label").as("probe_label"))

    val cand = train
      .join(SimilarityOps.assignTable(spark, dir).select(col("vec_id"), col("assigned")), "vec_id")
      .join(broadcast(probes), col("assigned") === col("probe_label"))
      .select(col("q_id"),  col("vec_id"),
        OracleMath.stableRound(SimilarityOps.cosine(col("embedding"), col("q_emb")), 6).as("sim"))

    val ivfTop = cand.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= IvfK).select(col("q_id"), col("vec_id"))
    val nCand = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_candidates"))

    val exactTop = train.crossJoin(broadcast(qs))
      .select(col("q_id"), col("vec_id"),
        OracleMath.stableRound(SimilarityOps.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= IvfK).select(col("q_id"), col("vec_id"))

    val hits = exactTop.join(ivfTop, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))

    qs.select(col("q_id"))
      .join(nCand, Seq("q_id"), "left")
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        OracleMath.stableRound(
          coalesce(col("n_hits"), lit(0L)).cast("double") / lit(IvfK.toDouble), 4).as("recall"))
      .orderBy(col("q_id"))
  }

  // ---------------------------------------------------------------------------
  // q276: IVF recall-vs-nprobe TUNING CURVE (one candidate scan, all points)
  // ---------------------------------------------------------------------------

  /** The nprobe settings the curve is measured at (ascending). */
  val IvfProbeCurve = Seq(1, 2, 3, 5)

  /** The recall-vs-nprobe TUNING CURVE for the IVF index — q161 measures
    * ONE operating point; this measures the whole dial, which is what you
    * actually read before fixing nprobe at 100 TB (candidates scanned per
    * query scale linearly with nprobe; recall saturates — the knee is the
    * setting). Each candidate is tagged with the PROBE RANK of its coarse
    * list for its query, so one candidate scan serves every curve point:
    * the rows explode over the curve's nprobe values (≤ |curve|×
    * amplification of skinny id/sim rows, never the vectors) and each
    * (query, nprobe) slice ranks its own top-k. Per point: mean exact-top-k
    * recall and mean candidates scanned over the full eval workload —
    * recall is monotone in nprobe by construction (spec-pinned).
    */
  def ivfProbeCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val qs = e.filter(isEval).select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val train = e.filter(!isEval).select(col("vec_id"), col("embedding"))

    val wProbe = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("c_label"))
    val probes = SimilarityOps.centroidTable(spark, dir).crossJoin(broadcast(qs))
      .select(col("q_id"), col("q_emb"), col("c_label"),
        OracleMath.stableRound(SimilarityOps.cosine(col("q_emb"), col("centroid")), 6).as("sim"))
      .withColumn("pr", row_number().over(wProbe).cast("long"))
      .filter(col("pr") <= IvfProbeCurve.max)
      .select(col("q_id"), col("q_emb"), col("c_label").as("probe_label"), col("pr"))

    val expanded = train
      .join(SimilarityOps.assignTable(spark, dir).select(col("vec_id"), col("assigned")), "vec_id")
      .join(broadcast(probes), col("assigned") === col("probe_label"))
      .select(col("q_id"), col("vec_id"), col("pr"),
        OracleMath.stableRound(SimilarityOps.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .withColumn("nprobe", explode(array(IvfProbeCurve.map(p => lit(p.toLong)): _*)))
      .filter(col("pr") <= col("nprobe"))
      .persistTracked()

    val wTop = Window.partitionBy(col("q_id"), col("nprobe")).orderBy(desc("sim"), col("vec_id"))
    val ivfTop = expanded.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= IvfK).select(col("q_id"), col("nprobe"), col("vec_id"))

    val wExact = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
    val exactTop = train.crossJoin(broadcast(qs))
      .select(col("q_id"), col("vec_id"),
        OracleMath.stableRound(SimilarityOps.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= IvfK).select(col("q_id"), col("vec_id"))

    val hits = ivfTop.join(exactTop, Seq("q_id", "vec_id"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
    val cands = expanded.groupBy(col("nprobe")).agg(count(lit(1)).as("n_cand"))
    val nq = qs.agg(count(lit(1)).as("nq"))

    cands.join(hits, Seq("nprobe"), "left")
      .na.fill(0L, Seq("n_hits"))
      .crossJoin(nq)
      .select(col("nprobe"), col("nq").as("n_queries"),
        OracleMath.stableRound(
          col("n_cand").cast("double") / col("nq").cast("double"), 4).as("mean_candidates"),
        OracleMath.stableRound(
          col("n_hits").cast("double") / (col("nq").cast("double") * lit(IvfK.toDouble)), 4)
          .as("mean_recall"))
      .orderBy(col("nprobe"))
  }

  // ---------------------------------------------------------------------------
  // q279: scalar-quantization recall/error curve (8/4/2-bit vs exact top-k)
  // ---------------------------------------------------------------------------

  /** Bit widths the quantization curve is measured at. */
  val SqBitsCurve = Seq(2, 4, 8)

  /** Scalar-quantization RECALL CURVE — what q276 is for nprobe, this is
    * for the vector-compression dial: the database side is affine-quantized
    * per vector at 8/4/2 bits per component (q95's min-max scheme),
    * reconstructed, and searched ASYMMETRICALLY (full-precision queries —
    * the standard ADC arrangement); per bit width, the mean exact-top-k
    * recall and the mean per-component reconstruction error. 8-bit is
    * usually free, 2-bit usually isn't — this table is where that shows up
    * before a 4×-16× index-memory decision is made at 100 TB.
    *
    * Shape: the train side explodes over |curve| bit widths (skinny rows);
    * reconstruction is row-local arithmetic; the brute-force rank against
    * the sampled eval workload is the measurement's declared ground truth
    * (q161's convention). Per-vector mean errors quantize to integer
    * 10⁻⁸ units so the cross-vector mean is an exact-integer sum.
    */
  def sqRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val qs = e.filter(isEval).select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val train = e.filter(!isEval).select(col("vec_id"), col("embedding"))

    val lv = expr("CASE bits WHEN 8 THEN 255.0 WHEN 4 THEN 15.0 ELSE 3.0 END")
    val mn = array_min(col("embedding")).cast("double")
    val mx = array_max(col("embedding")).cast("double")
    val sc = greatest((mx - mn) / lv, lit(1e-12))
    val recon = transform(col("embedding"),
      x => mn + floor((x.cast("double") - mn) / sc + lit(0.5)) * sc)
    val meanErr = aggregate(
      zip_with(col("embedding"), col("recon"), (x, r) => abs(x.cast("double") - r)),
      lit(0.0), _ + _) / size(col("embedding")).cast("double")

    val rc = train
      .select(col("vec_id"), col("embedding"),
        explode(array(SqBitsCurve.map(b => lit(b.toLong)): _*)).as("bits"))
      .withColumn("recon", recon)
      .withColumn("errm", floor(meanErr * lit(1.0e8) + lit(0.5)).cast("long"))
      .persistTracked()

    // the custom dot requires matching element types: recon is double, the
    // stored query is float — widen the query (the SQL twin casts both to
    // DOUBLE, so this is also the parity-exact shape)
    val qsd = qs.select(col("q_id"),
      transform(col("q_emb"), x => x.cast("double")).as("q_emb"))
    val wTop = Window.partitionBy(col("q_id"), col("bits")).orderBy(desc("sim"), col("vec_id"))
    val qTop = rc.crossJoin(broadcast(qsd))
      .select(col("q_id"), col("bits"), col("vec_id"),
        OracleMath.stableRound(SimilarityOps.cosine(col("recon"), col("q_emb")), 6).as("sim"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= IvfK).select(col("q_id"), col("bits"), col("vec_id"))

    val wExact = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
    val exactTop = train.crossJoin(broadcast(qs))
      .select(col("q_id"), col("vec_id"),
        OracleMath.stableRound(SimilarityOps.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= IvfK).select(col("q_id"), col("vec_id"))

    val hits = qTop.join(exactTop, Seq("q_id", "vec_id"))
      .groupBy(col("bits")).agg(count(lit(1)).as("n_hits"))
    val errs = rc.groupBy(col("bits"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("errm")).as("serrm"))
    val nq = qs.agg(count(lit(1)).as("nq"))

    errs.join(hits, Seq("bits"), "left")
      .na.fill(0L, Seq("n_hits"))
      .crossJoin(nq)
      .select(col("bits"), col("nq").as("n_queries"),
        OracleMath.stableRound(
          col("serrm").cast("double") / col("n_vecs").cast("double") / lit(1.0e8), 8)
          .as("mean_abs_err"),
        OracleMath.stableRound(
          col("n_hits").cast("double") / (col("nq").cast("double") * lit(IvfK.toDouble)), 4)
          .as("mean_recall"))
      .orderBy(col("bits"))
  }

  // ---------------------------------------------------------------------------
  // oracle twins
  // ---------------------------------------------------------------------------

  /** The q157 scoring CTE chain (through `tot` = per-matching-doc rounded
    * totals) — shared verbatim by the q157 and q182 twins.
    */
  private lazy val bm25CtesSql: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val perTermSel = Bm25Terms.map { t =>
      s"max(CASE WHEN term = '$t' THEN score END) AS s_$t"
    }.mkString(",\n |  ")
    val totalExpr = Bm25Terms.map(t => s"coalesce(s_$t, 0.0)").mkString(" + ")
    s"""d AS (SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM d),
       |postings AS (
       |  SELECT doc_id, dl, term, count(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(string_split(text, ' ')) AS term FROM d)
       |  WHERE term IN ($termList) GROUP BY 1, 2, 3),
       |dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
       |scored AS (
       |  SELECT doc_id, term,
       |    ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
       |      * (tf * 2.2)
       |      / (tf + $Bm25K1 * (0.25 + $Bm25B * (CAST(dl AS DOUBLE) / (CAST(total_len AS DOUBLE) / n_docs)))) AS score
       |  FROM postings JOIN dfreq USING (term) CROSS JOIN stats),
       |per_doc AS (
       |  SELECT doc_id,
       |  $perTermSel
       |  FROM scored GROUP BY 1),
       |tot AS (
       |  SELECT doc_id, s_${Bm25Terms.head}, ${Bm25Terms.tail.map(t => s"s_$t").mkString(", ")},
       |    ${OracleMath.stableRoundSql(totalExpr, 4)} AS score_total
       |  FROM per_doc)""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q298: rank-aware retrieval evaluation (MRR + nDCG@k) of the IVF index
  // ---------------------------------------------------------------------------

  /** Position discounts 1∕log₂(p+1) for p = 1..[[IvfK]], 6-dp-quantized in
    * the DRIVER and injected into both engines as decimal literals — the
    * per-term float (libm log) never runs inside either engine, so the DCG
    * sums are exact decimal arithmetic on shared constants.
    */
  val NdcgDiscounts: Seq[java.math.BigDecimal] = (1 to IvfK).map { p =>
    val d = math.log(2.0) / math.log(p + 1.0)
    new java.math.BigDecimal(math.floor(d * 1e6 + 0.5).toLong).movePointLeft(6)
  }

  /** Ideal DCG@k under the graded gains 11−p (exact decimal constant). */
  val NdcgIdcg: java.math.BigDecimal = (1 to IvfK).map { p =>
    new java.math.BigDecimal(11 - p).multiply(NdcgDiscounts(p - 1))
  }.reduce(_ add _)

  /** q298 — rank-aware evaluation of the IVF retriever against exact
    * ground truth: q161 measures recall@k (set overlap — WHAT the index
    * found); this measures MRR and nDCG@k (WHERE it put things): reciprocal
    * rank of the true nearest neighbour and the graded-gain
    * position-discounted score against the ideal ordering. An index can
    * hold recall while quietly shuffling the head — rank metrics catch
    * that; they are the numbers a retrieval system is actually graded on.
    *
    * Same workload and plan shape as q161 (tiny query/centroid broadcasts,
    * IVF touches nprobe∕nlists of the corpus, exact path is the declared
    * ground-truth measurement). Metric parity: gains are integers
    * (11 − exact rank), discounts are driver-quantized decimal literals
    * shared by both engines ([[NdcgDiscounts]]), so DCG is an exact
    * decimal sum — the only floats are the final nDCG division by the
    * exact [[NdcgIdcg]] constant and MRR's 1∕rank of small integers.
    */
  def retrievalRankMetrics(spark: SparkSession, dir: String, nprobe: Int = IvfNProbe): DataFrame = {
    val d18 = org.apache.spark.sql.types.DecimalType(18, 6)
    val e = Tables.embeddings(spark, dir)
    val qs = e.filter(isEval).select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val train = e.filter(!isEval).select(col("vec_id"), col("embedding"))

    val wTop = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("c_label"))

    val probes = SimilarityOps.centroidTable(spark, dir).crossJoin(broadcast(qs))
      .select(col("q_id"), col("q_emb"), col("c_label"),
        OracleMath.stableRound(SimilarityOps.cosine(col("q_emb"), col("centroid")), 6).as("sim"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("c_label").as("probe_label"))

    val ivfRanked = train
      .join(SimilarityOps.assignTable(spark, dir).select(col("vec_id"), col("assigned")), "vec_id")
      .join(broadcast(probes), col("assigned") === col("probe_label"))
      .select(col("q_id"), col("vec_id"),
        OracleMath.stableRound(SimilarityOps.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .withColumn("ivf_rn", row_number().over(wTop).cast("long"))
      .filter(col("ivf_rn") <= IvfK).select(col("q_id"), col("vec_id"), col("ivf_rn"))

    val exactRanked = train.crossJoin(broadcast(qs))
      .select(col("q_id"), col("vec_id"),
        OracleMath.stableRound(SimilarityOps.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .withColumn("ex_rn", row_number().over(wTop).cast("long"))
      .filter(col("ex_rn") <= IvfK).select(col("q_id"), col("vec_id"), col("ex_rn"))

    val disc = element_at(array(NdcgDiscounts.map(lit): _*), col("ivf_rn").cast("int"))
    val rel = coalesce(lit(11L) - col("ex_rn"), lit(0L))
    val perQ = ivfRanked.join(exactRanked, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(rel.cast(d18) * disc).as("dcg"),
        max(when(col("ex_rn") === 1L,
          OracleMath.stableRound(lit(1.0) / col("ivf_rn").cast("double"), 6))).as("rr"))
    qs.select(col("q_id")).join(perQ, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("rr"), lit(0.0)).as("mrr"),
        OracleMath.stableRound(
          coalesce(col("dcg"), lit(java.math.BigDecimal.ZERO).cast(d18)).cast("double")
            / lit(NdcgIdcg.doubleValue()), 6).as("ndcg"))
      .orderBy(col("q_id"))
  }

  /** The q298 twin — q161's CTE chain kept, metrics swapped in. */
  val retrievalRankMetricsOracle: String = {
    val discCase = (1 to IvfK).map { p =>
      s"WHEN $p THEN CAST(${NdcgDiscounts(p - 1).toPlainString} AS DECIMAL(8,6))"
    }.mkString(" ")
    s"""WITH ${SimilarityOps.centCteSql},
       |ev AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |       WHERE $evalSql),
       |tr AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE NOT ($evalSql)),
       |${SimilarityOps.assignCteSql},
       |probe AS (
       |  SELECT q_id, q_emb, c_label FROM (
       |    SELECT e.q_id, e.q_emb, c.c_label,
       |      row_number() OVER (PARTITION BY e.q_id
       |        ORDER BY ${OracleMath.stableRoundSql(SimilarityOps.cosSql("e.q_emb", "c.centroid"), 6)} DESC,
       |                 c.c_label) AS rn
       |    FROM ev e, cent c)
       |  WHERE rn <= $IvfNProbe),
       |ivftop AS (
       |  SELECT q_id, vec_id, CAST(rn AS BIGINT) AS ivf_rn FROM (
       |    SELECT p.q_id, t.vec_id,
       |      row_number() OVER (PARTITION BY p.q_id ORDER BY
       |        ${OracleMath.stableRoundSql(SimilarityOps.cosSql("t.embedding", "p.q_emb"), 6)} DESC,
       |        t.vec_id) AS rn
       |    FROM tr t JOIN assign a ON t.vec_id = a.vec_id
       |    JOIN probe p ON a.assigned = p.c_label)
       |  WHERE rn <= $IvfK),
       |exacttop AS (
       |  SELECT q_id, vec_id, CAST(rn AS BIGINT) AS ex_rn FROM (
       |    SELECT e.q_id, t.vec_id,
       |      row_number() OVER (PARTITION BY e.q_id
       |        ORDER BY ${OracleMath.stableRoundSql(SimilarityOps.cosSql("t.embedding", "e.q_emb"), 6)} DESC,
       |                 t.vec_id) AS rn
       |    FROM tr t CROSS JOIN ev e)
       |  WHERE rn <= $IvfK),
       |perq AS (
       |  SELECT i.q_id,
       |    sum(CAST(coalesce(11 - e.ex_rn, 0) AS DECIMAL(18,6))
       |        * (CASE i.ivf_rn $discCase END)) AS dcg,
       |    max(CASE WHEN e.ex_rn = 1
       |        THEN ${OracleMath.stableRoundSql("1.0 / CAST(i.ivf_rn AS DOUBLE)", 6)} END) AS rr
       |  FROM ivftop i LEFT JOIN exacttop e USING (q_id, vec_id)
       |  GROUP BY 1)
       |SELECT ev.q_id AS q_id,
       |  coalesce(rr, 0.0) AS mrr,
       |  ${OracleMath.stableRoundSql(
      s"CAST(coalesce(dcg, 0) AS DOUBLE) / CAST(${NdcgIdcg.toPlainString} AS DOUBLE)", 6)} AS ndcg
       |FROM ev LEFT JOIN perq p ON ev.q_id = p.q_id
       |ORDER BY q_id""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "q298_retrieval_ndcg" -> retrievalRankMetricsOracle,
    "q157_bm25_topk" -> {
      val roundedPer = Bm25Terms.map { t =>
        s"${OracleMath.stableRoundSql(s"coalesce(s_$t, 0.0)", 4)} AS s_$t"
      }.mkString(",\n | ")
      s"""WITH $bm25CtesSql
         |SELECT doc_id,
         | $roundedPer,
         | score_total,
         | CAST(row_number() OVER (ORDER BY score_total DESC, doc_id) AS BIGINT) AS rnk
         |FROM tot ORDER BY score_total DESC, doc_id LIMIT $Bm25TopK""".stripMargin
    },
    "q182_hybrid_rrf" ->
      s"""WITH $bm25CtesSql,
         |rb AS (SELECT doc_id AS id_b,
         |         CAST(row_number() OVER (ORDER BY score_total DESC, doc_id) AS BIGINT) AS rb
         |       FROM tot QUALIFY rb <= $RrfCandidates),
         |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         |sims AS (SELECT e.vec_id,
         |           ${OracleMath.stableRoundSql(SimilarityOps.cosSql("e.embedding", "q.q_emb"), 6)} AS sim
         |         FROM embeddings e, q WHERE e.vec_id <> 0),
         |rv AS (SELECT vec_id AS id_v,
         |         CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS rv
         |       FROM sims QUALIFY rv <= $RrfCandidates),
         |fused AS (SELECT coalesce(id_b, id_v) AS id,
         |            coalesce(rb, -1) AS rank_bm25, coalesce(rv, -1) AS rank_knn,
         |            coalesce(1.0 / ($RrfK + rb), 0.0) + coalesce(1.0 / ($RrfK + rv), 0.0) AS rrf
         |          FROM rb FULL OUTER JOIN rv ON id_b = id_v)
         |SELECT id, rank_bm25, rank_knn,
         | ${OracleMath.stableRoundSql("rrf", 8)} AS rrf_r,
         | CAST(row_number() OVER (ORDER BY rrf DESC, id) AS BIGINT) AS rank
         |FROM fused ORDER BY rrf DESC, id LIMIT $RrfTopK""".stripMargin,
    "q159_embed_contamination" ->
      s"""WITH ev AS (SELECT embedding AS q_emb FROM embeddings
         |            WHERE $evalSql),
         |tr AS (SELECT vec_id, label, embedding FROM embeddings
         |       WHERE NOT ($evalSql)),
         |m AS (SELECT t.vec_id, t.label,
         |        max(${SimilarityOps.cosSql("t.embedding", "e.q_emb")}) AS max_sim
         |      FROM tr t CROSS JOIN ev e GROUP BY 1, 2)
         |SELECT label, count(*) AS n_train,
         | CAST(sum(CASE WHEN max_sim >= $ContamThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         | ${OracleMath.stableRoundSql("max(max_sim)", 6)} AS max_sim
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q161_ivf_recall" ->
      s"""WITH ${SimilarityOps.centCteSql},
         |ev AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |       WHERE $evalSql),
         |tr AS (SELECT vec_id, embedding FROM embeddings
         |       WHERE NOT ($evalSql)),
         |${SimilarityOps.assignCteSql},
         |probe AS (
         |  SELECT q_id, q_emb, c_label FROM (
         |    SELECT e.q_id, e.q_emb, c.c_label,
         |      row_number() OVER (PARTITION BY e.q_id
         |        ORDER BY ${OracleMath.stableRoundSql(SimilarityOps.cosSql("e.q_emb", "c.centroid"), 6)} DESC,
         |                 c.c_label) AS rn
         |    FROM ev e, cent c)
         |  WHERE rn <= $IvfNProbe),
         |cand AS (
         |  SELECT p.q_id, t.vec_id,
         |    ${OracleMath.stableRoundSql(SimilarityOps.cosSql("t.embedding", "p.q_emb"), 6)} AS sim
         |  FROM tr t JOIN assign a ON t.vec_id = a.vec_id
         |  JOIN probe p ON a.assigned = p.c_label),
         |ivftop AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
         |    FROM cand)
         |  WHERE rn <= $IvfK),
         |ncand AS (SELECT q_id, count(*) AS n_candidates FROM cand GROUP BY 1),
         |exacttop AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT e.q_id, t.vec_id,
         |      row_number() OVER (PARTITION BY e.q_id
         |        ORDER BY ${OracleMath.stableRoundSql(SimilarityOps.cosSql("t.embedding", "e.q_emb"), 6)} DESC,
         |                 t.vec_id) AS rn
         |    FROM tr t CROSS JOIN ev e)
         |  WHERE rn <= $IvfK),
         |hits AS (SELECT q_id, count(*) AS n_hits FROM exacttop JOIN ivftop USING (q_id, vec_id) GROUP BY 1)
         |SELECT e.q_id AS q_id,
         | CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates,
         | CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         | ${OracleMath.stableRoundSql(s"CAST(coalesce(n_hits, 0) AS DOUBLE) / ${IvfK.toDouble}", 4)} AS recall
         |FROM ev e
         |LEFT JOIN ncand n ON e.q_id = n.q_id
         |LEFT JOIN hits h ON e.q_id = h.q_id
         |ORDER BY q_id""".stripMargin,
    "q279_sq_recall_curve" -> {
      val sc = "greatest((mx - mn) / lv, 1e-12)"
      s"""WITH ev AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |       WHERE $evalSql),
         |tr AS (SELECT vec_id, embedding FROM embeddings
         |       WHERE NOT ($evalSql)),
         |ex AS (SELECT vec_id, embedding, b.bits,
         |         CAST(list_min(embedding) AS DOUBLE) AS mn,
         |         CAST(list_max(embedding) AS DOUBLE) AS mx,
         |         CASE b.bits WHEN 8 THEN 255.0 WHEN 4 THEN 15.0 ELSE 3.0 END AS lv
         |       FROM tr, (SELECT CAST(unnest([${SqBitsCurve.mkString(", ")}]) AS BIGINT) AS bits) b),
         |rc AS (SELECT vec_id, bits,
         |         list_transform(embedding, x ->
         |           mn + floor((CAST(x AS DOUBLE) - mn) / $sc + 0.5) * $sc) AS recon,
         |         CAST(floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |             list_transform(embedding, x ->
         |               abs(CAST(x AS DOUBLE) - (mn + floor((CAST(x AS DOUBLE) - mn) / $sc + 0.5) * $sc)))),
         |             (a, v) -> a + v) / CAST(len(embedding) AS DOUBLE)) * 100000000.0 + 0.5) AS BIGINT) AS errm
         |       FROM ex),
         |qtop AS (
         |  SELECT q_id, bits, vec_id FROM (
         |    SELECT e.q_id, r.bits, r.vec_id,
         |      row_number() OVER (PARTITION BY e.q_id, r.bits
         |        ORDER BY ${OracleMath.stableRoundSql(SimilarityOps.cosSql("r.recon", "e.q_emb"), 6)} DESC,
         |                 r.vec_id) AS rn
         |    FROM rc r CROSS JOIN ev e)
         |  WHERE rn <= $IvfK),
         |exacttop AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT e.q_id, t.vec_id,
         |      row_number() OVER (PARTITION BY e.q_id
         |        ORDER BY ${OracleMath.stableRoundSql(SimilarityOps.cosSql("t.embedding", "e.q_emb"), 6)} DESC,
         |                 t.vec_id) AS rn
         |    FROM tr t CROSS JOIN ev e)
         |  WHERE rn <= $IvfK),
         |hits AS (SELECT bits, CAST(count(*) AS BIGINT) AS n_hits
         |         FROM qtop JOIN exacttop USING (q_id, vec_id) GROUP BY 1),
         |errs AS (SELECT bits, CAST(count(*) AS BIGINT) AS n_vecs,
         |           CAST(sum(errm) AS BIGINT) AS serrm FROM rc GROUP BY 1),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS nq FROM ev)
         |SELECT e.bits, nq.nq AS n_queries,
         | ${OracleMath.stableRoundSql(
            "CAST(serrm AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 100000000.0", 8)} AS mean_abs_err,
         | ${OracleMath.stableRoundSql(
            s"CAST(coalesce(n_hits, 0) AS DOUBLE) / (CAST(nq AS DOUBLE) * ${IvfK.toDouble})", 4)} AS mean_recall
         |FROM errs e LEFT JOIN hits h ON e.bits = h.bits CROSS JOIN nq
         |ORDER BY e.bits""".stripMargin
    },
    "q276_ivf_probe_curve" ->
      s"""WITH ${SimilarityOps.centCteSql},
         |ev AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |       WHERE $evalSql),
         |tr AS (SELECT vec_id, embedding FROM embeddings
         |       WHERE NOT ($evalSql)),
         |${SimilarityOps.assignCteSql},
         |probe AS (
         |  SELECT q_id, q_emb, c_label, pr FROM (
         |    SELECT e.q_id, e.q_emb, c.c_label,
         |      CAST(row_number() OVER (PARTITION BY e.q_id
         |        ORDER BY ${OracleMath.stableRoundSql(SimilarityOps.cosSql("e.q_emb", "c.centroid"), 6)} DESC,
         |                 c.c_label) AS BIGINT) AS pr
         |    FROM ev e, cent c)
         |  WHERE pr <= ${IvfProbeCurve.max}),
         |expanded AS (
         |  SELECT p.q_id, t.vec_id, p.pr, v.nprobe,
         |    ${OracleMath.stableRoundSql(SimilarityOps.cosSql("t.embedding", "p.q_emb"), 6)} AS sim
         |  FROM tr t JOIN assign a ON t.vec_id = a.vec_id
         |  JOIN probe p ON a.assigned = p.c_label
         |  CROSS JOIN (SELECT CAST(unnest([${IvfProbeCurve.mkString(", ")}]) AS BIGINT) AS nprobe) v
         |  WHERE p.pr <= v.nprobe),
         |ivftop AS (
         |  SELECT q_id, nprobe, vec_id FROM (
         |    SELECT q_id, nprobe, vec_id,
         |      row_number() OVER (PARTITION BY q_id, nprobe ORDER BY sim DESC, vec_id) AS rn
         |    FROM expanded)
         |  WHERE rn <= $IvfK),
         |exacttop AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT e.q_id, t.vec_id,
         |      row_number() OVER (PARTITION BY e.q_id
         |        ORDER BY ${OracleMath.stableRoundSql(SimilarityOps.cosSql("t.embedding", "e.q_emb"), 6)} DESC,
         |                 t.vec_id) AS rn
         |    FROM tr t CROSS JOIN ev e)
         |  WHERE rn <= $IvfK),
         |hits AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hits
         |         FROM ivftop JOIN exacttop USING (q_id, vec_id) GROUP BY 1),
         |cands AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_cand FROM expanded GROUP BY 1),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS nq FROM ev)
         |SELECT c.nprobe, nq.nq AS n_queries,
         | ${OracleMath.stableRoundSql("CAST(n_cand AS DOUBLE) / CAST(nq AS DOUBLE)", 4)} AS mean_candidates,
         | ${OracleMath.stableRoundSql(
            s"CAST(coalesce(n_hits, 0) AS DOUBLE) / (CAST(nq AS DOUBLE) * ${IvfK.toDouble})", 4)} AS mean_recall
         |FROM cands c LEFT JOIN hits h ON c.nprobe = h.nprobe CROSS JOIN nq
         |ORDER BY c.nprobe""".stripMargin,
    "q160_cluster_safe_split" ->
      s"""WITH g AS (
         |  SELECT ${TextFunctions.wordSetKeySql} AS wkey,
         |    count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |    CAST(sum(CASE WHEN (doc_id * $SplitHashMultNaive) % 100 < $SplitTrainPct
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_naive_train
         |  FROM documents GROUP BY 1)
         |SELECT CASE WHEN ('0x' || substr(wkey, 1, 12))::BIGINT % 100 < $SplitTrainPct
         |            THEN 'train' ELSE 'test' END AS split,
         | count(*) AS n_groups, CAST(sum(n_docs) AS BIGINT) AS n_docs,
         | CAST(sum(sum_chars) AS BIGINT) AS sum_chars,
         | CAST(sum(CASE WHEN n_naive_train > 0 AND n_naive_train < n_docs
         |          THEN 1 ELSE 0 END) AS BIGINT) AS naive_leaky_groups
         |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
