package graft.ops

import graft.ops.Caches.Tracked

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the exact / near-duplicate
  * family of a training-data pipeline (north-star extension): exact hash
  * dedup, word-set dedup, MinHash signatures + LSH banding, an *exact*
  * prefix-filtered Jaccard similarity self-join, and SimHash fingerprints.
  *
  * Scale design: every dedup here is a shuffle on a *derived small key*
  * (hash, set-signature, band bucket, prefix token) — never an all-pairs
  * cross join. The exact similarity join uses PPJoin-style prefix filtering
  * (rarest-token prefixes, lossless for a Jaccard threshold), so the
  * candidate space at 100 TB is bounded by token-posting-list sizes, and the
  * MinHash-LSH variant bounds it further when approximate recall is
  * acceptable.
  */
object DedupOps {
  import TextFunctions._

  /** Exact duplicate groups: representative + group size.
    *
    * Scale shape: the shuffle partitions on `(xxhash64(text), length(text))`
    * — an 8-byte derived key — NOT on the text. Grouping still includes the
    * text column, which IS the in-group exact-text verify: two distinct
    * texts that collide on (hash, length) land in the same partition but
    * remain separate groups, so the result is bit-identical to grouping by
    * text alone, with no correctness assumption on the hash. The explicit
    * `repartition(h, len)` satisfies the aggregate's clustered distribution
    * (same-text rows share the same hash, hence the same partition), so
    * Catalyst adds no second, text-keyed exchange: the shuffle writer hashes
    * and compares 8-byte keys instead of whole documents. At 100 TB the
    * partitioner touches only the derived key; document bytes ride through
    * once as values. PlanSpec asserts no text column ever appears in a
    * HashPartitioning expression of this plan.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("h", xxhash64(col("text")))
      .withColumn("len", length(col("text")))
      .repartition(col("h"), col("len"))
      .groupBy(col("h"), col("len"), col("text"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("group_size"))
      .select(col("rep_doc_id"), col("group_size"))
      .orderBy(col("rep_doc_id"))

  /** Word-set dedup: documents with identical distinct-word sets (order- and
    * multiplicity-insensitive) collapse to one group — catches shuffled
    * duplicates exact hashing misses.
    *
    * Scale shape (the dedupExact pattern): the shuffle partitions on
    * `(xxhash64(joined ws), set size)` — an 8-byte derived key — NOT on the
    * word-set array. Grouping still includes the array, which IS the
    * in-group exact verify: two distinct sets colliding on (hash, size)
    * stay separate groups, so the result is bit-identical to grouping by
    * the array alone with no correctness assumption on the hash. The
    * explicit `repartition(wkey, set_size)` satisfies the aggregate's
    * clustered distribution, so the exchange hashes 8-byte keys while the
    * arrays ride through once as values — at 100 TB every unique document
    * no longer ships its whole word set through the partitioner. PlanSpec
    * asserts no array/text column ever rides a HashPartitioning expression
    * of this plan.
    */
  def dedupWordSet(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ws", wordSet(col("text")))
      .withColumn("wkey", xxhash64(array_join(col("ws"), " ")))
      .withColumn("set_size", size(col("ws")).cast("long"))
      .repartition(col("wkey"), col("set_size"))
      .groupBy(col("wkey"), col("set_size"), col("ws"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("group_size"))
      .select(col("rep_doc_id"), col("group_size"), col("set_size"))
      .orderBy(col("rep_doc_id"))

  /** MinHash parameters: k independent permutations (a_i·h + b_i) mod P over
    * the word-set hashes. Deterministic constants so the oracle can replay
    * them.
    */
  val MinhashK = 8
  def perm(i: Int, h: Column): Column = (lit(2L * i + 3) * h + lit(7L * i + 1)) % P

  /** MinHash signatures (k=8) per document — the sketch that powers
    * [[lshNearDupPairs]]. Pure array math, no shuffle.
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val hs = wordSetHashes(col("text"))
    val sigCols = (0 until MinhashK).map(i => array_min(transform(hs, h => perm(i, h))).as(s"mh$i"))
    Tables.documents(spark, dir)
      .select(col("doc_id") +: sigCols: _*)
      .orderBy(col("doc_id"))
  }

  /** EXACT near-duplicate pairs with word-set Jaccard ≥ `threshold`.
    *
    * Adaptive, statistics-driven physical choice (the word dictionary is
    * computed for the prefix ordering anyway — its cardinality is free):
    *
    *  - **Dense-domain path** (vocabulary ≤ 64): dictionary-encode each word
    *    set as ONE 64-bit mask; group identical masks; all-pairs join over
    *    the distinct masks with a codegen `bit_count` Jaccard in the join
    *    condition; expand group pairs back to doc pairs. Verification is two
    *    popcounts on a long — no arrays are ever shuffled, and collapsing
    *    identical sets first removes the duplicate-heavy corpus's quadratic
    *    re-verification entirely. This is the bitmap-index/dictionary-encode
    *    trick classical engines apply when a column's domain is tiny.
    *  - **General path** (`forceGeneral` or vocabulary > 64): PPJoin-style
    *    prefix filtering (lossless for J ≥ t), the 100 TB path when the
    *    vocabulary is web-scale. See [[nearDupJaccardGeneral]].
    *
    * Both paths return identical results (spec-checked against brute force
    * and against each other); the oracle brute-forces all pairs.
    */
  def nearDupJaccard(spark: SparkSession, dir: String, threshold: Double = NearDupThreshold,
                     forceGeneral: Boolean = false): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), array_distinct(words(col("text"))).as("ws0"))
    if (forceGeneral) nearDupJaccardGeneral(spark, docs, threshold)
    else nearDupPairsOn(spark, docs, threshold)
  }

  /** Bounded cardinality probe for the dense-domain path: collect the
    * vocabulary ONLY when it fits the ≤64-word bitmask encoding. The
    * `limit(65)` caps the driver transfer at 65 rows regardless of corpus
    * size — probing with a full `distinct().collect()` would pull a
    * web-scale dictionary onto the driver before the 100 TB path even
    * started. When ≤64 distinct words exist, the limited collect IS the full
    * vocabulary, so no second scan is needed.
    */
  private[graft] def smallVocab(docs: DataFrame): Option[Array[String]] = {
    // bounded-collect: limit(65) caps the probe at 65 rows at any corpus size
    val probe = docs.select(explode(col("ws0")).as("word")).distinct()
      .limit(65).collect().map(_.getString(0))
    if (probe.length <= 64) Some(probe.sorted) else None
  }

  /** Word-set → 64-bit membership mask for a ≤64-word vocabulary (the dense
    * path's one-long set representation; Jaccard = two popcounts).
    */
  private[graft] def maskExpr(vocab: Array[String], ws: Column): Column = {
    val bitMap = map(vocab.toIndexedSeq.zip(vocabBits(vocab)).flatMap {
      case (w, b) => Seq(lit(w), b)
    }: _*)
    aggregate(transform(ws, w => element_at(bitMap, w)),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** The mask bit of each vocabulary word: word i ↦ `1L << i`. */
  private def vocabBits(vocab: Array[String]): Seq[Column] =
    vocab.indices.map(i => lit(1L << i))

  /** Identical-set groups of `(doc_id, mask)` rows: `(mask, ids, n)`.
    * Every mask-path join then runs over DISTINCT masks only.
    */
  private[graft] def maskGroups(masks: DataFrame): DataFrame =
    masks.groupBy(col("mask"))
      .agg(collect_list(col("doc_id")).as("ids"), count(lit(1)).as("n"))

  /** Doc pairs of the mask-group pairs `(ids_a, ids_b, j)`: a group pair
    * expands to the cross product of its members, and every group of
    * n > 1 identical masks adds its internal pairs at J = 1 exactly.
    * Returns `(doc_a, doc_b, jaccard)` with `doc_a < doc_b`, sorted.
    */
  private def maskGroupDocPairs(groupPairs: DataFrame, groups: DataFrame): DataFrame = {
    val crossPairs = groupPairs
      .select(explode(col("ids_a")).as("x"), col("ids_b"), col("j"))
      .select(col("x"), explode(col("ids_b")).as("y"), col("j"))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"), col("j"))
    val withinPairs = groups.filter(col("n") > 1)
      .select(explode(col("ids")).as("x"), col("ids"))
      .select(col("x"), explode(col("ids")).as("y"))
      .filter(col("x") < col("y"))
      .select(col("x").as("doc_a"), col("y").as("doc_b"), lit(1.0).as("j"))
    crossPairs.unionByName(withinPairs)
      .select(col("doc_a"), col("doc_b"), OracleMath.stableRound(col("j"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Adaptive pair join over a prepared `(doc_id, ws0)` frame: probe the
    * dictionary cardinality, then the bitmask or PPJoin path (the choice
    * behind [[nearDupJaccard]], reusable for pre-contracted inputs).
    */
  private[graft] def nearDupPairsOn(spark: SparkSession, docs: DataFrame,
                                    threshold: Double): DataFrame =
    smallVocab(docs) match {
      case Some(vocab) => nearDupJaccardMask(docs, vocab, threshold)
      case None        => nearDupJaccardGeneral(spark, docs, threshold)
    }

  /** Estimated bytes of one dictionary row (a short token and its int rank,
    * plus [[estIdBytes]]' per-row overhead), to size a dictionary side. */
  private[graft] val DictRowBytes = 64L

  /** Estimated in-memory bytes of a `(doc_id, ws, sz)` token-id table:
    * 4 B per token plus per-row object overhead.
    */
  private[graft] def estIdBytes(ids: DataFrame): Long = {
    val r = ids.agg(count(lit(1)), coalesce(sum(col("sz")), lit(0L))).head()
    r.getLong(1) * 4L + r.getLong(0) * 48L
  }

  /** Dense-domain exact path: word sets as single-long bitmasks (vocabulary
    * ≤ 64), identical-set grouping, popcount Jaccard over distinct masks.
    */
  private def nearDupJaccardMask(docs: DataFrame, vocab: Array[String],
                                 threshold: Double): DataFrame = {
    // the mask is an order-independent OR-fold over a literal dictionary
    // map, so no sort and no shuffle to build it
    val groups = maskGroups(docs.select(col("doc_id"), maskExpr(vocab, col("ws0")).as("mask")))

    // all-pairs over DISTINCT masks only; Jaccard inline in the join
    // condition (AND/OR + two popcounts, codegen) — the double division
    // mirrors the oracle's CAST(len AS DOUBLE)/len compare exactly.
    // The stream side is explicitly repartitioned: its shuffle output is a
    // few KB, so AQE would coalesce it to ONE partition and run the
    // quadratic nested-loop probe single-threaded; an explicit numbered
    // repartition pins the parallelism (rows are the unit of quadratic work
    // here, not bytes).
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val a = groups.repartition(par)
      .select(col("mask").as("mask_a"), col("ids").as("ids_a"))
    val b = groups.select(col("mask").as("mask_b"), col("ids").as("ids_b"))
    val j = Banding.maskJaccard(col("mask_a"), col("mask_b"))
    val groupPairs = a.join(broadcast(b),
        col("mask_a") < col("mask_b") && j >= lit(threshold))
      .select(col("ids_a"), col("ids_b"), j.as("j"))
    maskGroupDocPairs(groupPairs, groups)
  }

  /** N-gram (shingle) Jaccard near-dup pairs: the order-sensitive member of
    * the dedup family — word-set Jaccard calls two docs with the same words
    * in different order identical; bigram-set Jaccard does not. Shingle sets
    * come from the same windows as the [[graft.functions.NGrams]] generator
    * (array form, no explode/regroup round trip), and the join runs the
    * general PPJoin path: the bigram vocabulary is quadratically larger than
    * the word vocabulary, so the dense-domain bitmask shortcut correctly
    * does not apply — this query keeps the general path oracle-covered.
    */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    // Shingle sets via the generator + regroup, NOT a per-index lambda:
    // `transform(sequence(...), i -> concat(element_at(split(text),i), ...))`
    // re-evaluates the split inside every element_at (interpreted lambdas
    // don't CSE across the lambda boundary) — O(n²) splits per row, and the
    // subplan is re-derived three times downstream. The generator evaluates
    // its child array once per input row; the regroup is one 110k-skinny-row
    // shuffle. Docs with <2 words emit no shingles and drop out, as a
    // shingle join semantically should.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.ngrams(words(col("text")), 2).as("bigram"))
      .groupBy(col("doc_id"))
      .agg(array_distinct(collect_list(col("bigram"))).as("ws0"))
      // two consumers downstream (dictionary build + token-id build) — cache
      // the shingle sets so generation+regroup runs once
      .persistTracked()
    nearDupJaccardGeneral(spark, docs, threshold)
  }

  /** General-vocabulary exact path: PPJoin prefix filtering: order the
    * vocabulary rarest-first (global term counts, ties by word), keep each
    * document's first ⌊(1−t)·|set|⌋+1 tokens in that order as its *prefix*;
    * any pair with J ≥ t must share a prefix token (lossless filter), so
    * candidates come from a token-bucket self-join on prefixes only, then
    * exact Jaccard verification.
    */
  private def nearDupJaccardGeneral(spark: SparkSession, docs: DataFrame,
                                    threshold: Double): DataFrame = {
    val (cands, ids) = ppjoinCandidates(spark, docs, threshold)
    verifyPairs(cands, ids, threshold)
  }

  /** Exact verify of candidate pairs `(a, b)` against the token-id table
    * `ids` = `(doc_id, ws, sz)`: `(a, b, jaccard)` with Jaccard ≥ `threshold`,
    * once per pair, sorted. Verifies FIRST on the [[Joins.broadcastIfFits]]-attached
    * arrays and dedupes only the small passing set: a pair found k times
    * costs k kernel calls but the candidate multiset is never shuffled.
    */
  private def verifyPairs(cands: DataFrame, ids: DataFrame, threshold: Double,
                          a: String = "doc_a", b: String = "doc_b"): DataFrame = {
    import graft.functions.VectorFunctions.sortedIntersectSize
    val est = estIdBytes(ids)
    def side(id: String) =
      Joins.broadcastIfFits(ids.select(col("doc_id").as(id), col("ws").as(s"ws_$id"), col("sz").as(s"sz_$id")), est)
    cands.join(side(a), a).join(side(b), b)
      .withColumn("inter", sortedIntersectSize(col(s"ws_$a"), col(s"ws_$b")))
      .withColumn("j", col("inter").cast("double") / (col(s"sz_$a") + col(s"sz_$b") - col("inter")))
      .filter(col("j") >= threshold)
      .select(col(a), col(b), OracleMath.stableRound(col("j"), 4).as("jaccard"))
      .dropDuplicates(a, b)
      .orderBy(col(a), col(b))
  }

  /** Incremental (delta-batch) near-dup: match a NEW batch of documents
    * (doc_id % 5 = 0 here — in production, today's crawl) against the
    * EXISTING corpus without re-deduplicating the corpus against itself.
    * This is the shape every production 100 TB dedup actually runs: the
    * corpus's dictionary-encoded, prefix-exploded token index is a
    * persisted artifact; each arriving batch is tokenized, prefix-exploded,
    * and joined against that index — candidate generation costs
    * O(delta-prefix ⋈ index), never O(corpus²), and the corpus index is
    * never rebuilt (the token dictionary refresh per batch is
    * vocabulary-sized). Same PPJoin machinery as [[nearDupJaccard]]'s
    * general path (global-rarity prefixes, exact integer filter bounds,
    * size-gated verify sides), but the candidate join is delta×corpus
    * instead of a self-join — no `doc_a < doc_b`, a two-sided length filter,
    * and an asymmetric output (every delta doc with a near-dup sponsor in
    * the corpus gets dropped/linked by the caller).
    */
  def deltaNearDup(spark: SparkSession, dir: String, threshold: Double = NearDupThreshold,
                   forceGeneral: Boolean = false): DataFrame = {
    val all = Tables.documents(spark, dir)
      .select(col("doc_id"), wordSet(col("text")).as("ws0"))

    // adaptive like [[nearDupJaccard]]: a ≤64-word vocabulary makes the
    // delta×corpus join a bitmask popcount — no dictionary window, no
    // prefix explode, no verify attach joins
    if (!forceGeneral) smallVocab(all) match {
      case Some(vocab) => return deltaNearDupMask(all, vocab, threshold)
      case None        => ()
    }

    // global-rarity dictionary over corpus ∪ delta (vocabulary-sized; the
    // per-batch refresh of the persisted index's dictionary)
    val ids = rarityTokenIds(all)

    // exact integer prefix/length bounds — see ppjoinCandidates for why the
    // float forms lose boundary pairs
    val tNum = math.round(threshold * 1000).toInt
    val tDen = 1000
    def prefixes(side: DataFrame) = side.select(col("doc_id"), col("sz"),
      explode(slice(col("ws"), lit(1), prefixLen(tNum, tDen))).as("tok"))

    val cands = prefixes(ids.filter(col("doc_id") % 5 === 0)).as("d")
      .join(prefixes(ids.filter(col("doc_id") % 5 =!= 0)).as("c"),
        col("d.tok") === col("c.tok")
          && col("d.sz") * tDen >= col("c.sz") * tNum
          && col("c.sz") * tDen >= col("d.sz") * tNum)
      .select(col("d.doc_id").as("doc_delta"), col("c.doc_id").as("doc_corpus"))

    verifyPairs(cands, ids, threshold, "doc_delta", "doc_corpus")
  }

  /** Containment threshold + contained-side size cap for
    * [[containmentPairs]] (single-sourced into the twin). The cap bounds
    * the quadratic oracle and matches the use case: quote/subset detection
    * targets short sources inside longer documents.
    */
  val ContainThreshold = 0.9
  val ContainMinSrcTokens = 20L // below this a "subset" is noise, not a quote
  val ContainMaxSrcTokens = 60L

  /** ASYMMETRIC containment near-dup: ordered pairs (a, b) where
    * `|A∩B| ∕ |A| ≥ t` — document a's word set is (almost) a SUBSET of
    * b's. This is the dedup semantics Jaccard (q38) structurally misses: a
    * short document quoted inside a long one has tiny Jaccard but
    * containment ≈ 1 (quote/boilerplate/subset detection in a training
    * corpus).
    *
    * Blocking is the prefix-filter theorem adapted to containment: C ≥ t
    * forces |A∩B| ≥ ⌈t·|A|⌉, so a qualifying pair must share one of A's
    * rarest `|A| − ⌈t·|A|⌉ + 1` tokens (rarity-ordered, same dictionary
    * encode as the PPJoin path) — candidates come from joining those A
    * prefixes against the full token postings, so candidate volume is
    * bounded by RARE-token posting-list sizes, never corpus². The only
    * size constraint containment admits is `|B| ≥ t·|A|` (exact integer
    * form); verification is the codegen sorted-intersect kernel with an
    * exact integer acceptance predicate (`inter·1000 ≥ sz_a·900` — no
    * float boundary).
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.sortedIntersectSize
    val all = Tables.documents(spark, dir)
      .select(col("doc_id"), wordSet(col("text")).as("ws0"))
    // persisted, NOT localCheckpoint (r15, measured): a checkpoint leaf here
    // would cut ~0.8 s of driver re-analysis gaps, but it also erases the
    // id table's statistics — the candidate join re-planned against a
    // stats-less LogicalRDD leaf and collapsed into a 14 s two-stage job
    // (8× the persisted plan's whole wall). The lineage-bearing persist is
    // what keeps the prefix-join planning right; the driver gaps are the
    // price and stay.
    val ids = rarityTokenIds(all)
    val tNum = math.round(ContainThreshold * 1000).toInt
    val tDen = 1000
    val aPref = ids.filter(col("sz").between(ContainMinSrcTokens, ContainMaxSrcTokens))
      .select(col("doc_id").as("doc_a"), col("sz").as("sz_a"),
        explode(slice(col("ws"), lit(1), prefixLen(tNum, tDen))).as("tok"))
    val postings = ids.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
      explode(col("ws")).as("tok"))
    val cands = aPref.join(postings, "tok")
      .filter(col("doc_a") =!= col("doc_b") && col("sz_b") * tDen >= col("sz_a") * tNum)
      .select(col("doc_a"), col("doc_b")).distinct()
    // verify sides PINNED through the measured byte gate like every other
    // near-dup verify join (q38/q39's discipline) — r14: leaving them to
    // AQE's runtime size estimates made the plan BIMODAL (the estimate sat
    // near the broadcast threshold, so reps flipped BHJ↔SMJ: first-rep
    // shuffle bytes 251,160 vs 1,334,645 — the record-pairing artifact
    // behind three consecutive false "regression" archives). One scalar agg
    // on the cached ids makes the choice deterministic at every SF.
    val est = estIdBytes(ids)
    cands
      .join(Joins.broadcastIfFits(
        ids.select(col("doc_id").as("doc_a"), col("ws").as("ws_a"), col("sz").as("sza")), est), "doc_a")
      .join(Joins.broadcastIfFits(
        ids.select(col("doc_id").as("doc_b"), col("ws").as("ws_b"), col("sz").as("szb")), est), "doc_b")
      .withColumn("inter", sortedIntersectSize(col("ws_a"), col("ws_b")).cast("long"))
      .filter(col("inter") * tDen >= col("sza") * tNum)
      .withColumn("c_r", OracleMath.stableRound(col("inter").cast("double") / col("sza"), 4))
      // per-contained-doc rollup (the report a curator reads — this
      // synthetic corpus's shared vocabulary makes the raw pair set
      // quadratically large, so pairs stay inside the plan and the output
      // is contained-doc-sized): how many containers, and the best one
      // (max containment, min container id on ties — a struct argmax)
      .groupBy(col("doc_a"), col("sza"))
      .agg(count(lit(1)).as("n_containers"),
        max(struct(col("c_r").as("c"), (-col("doc_b")).as("negb"))).as("best"))
      .select(col("doc_a"), col("sza").as("sz_a"), col("n_containers"),
        col("best.c").as("best_containment"), (-col("best.negb")).as("best_doc_b"))
      .orderBy(col("doc_a"))
  }

  val containmentPairsOracle: String =
    s"""WITH s AS (SELECT doc_id, $wordSetSql AS ws,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS sz
       |  FROM documents),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, a.sz AS sz_a, b.doc_id AS doc_b,
       |    ${OracleMath.stableRoundSql("CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / a.sz", 4)} AS c_r
       |  FROM s a JOIN s b ON a.doc_id <> b.doc_id
       |    AND a.sz BETWEEN ${ContainMinSrcTokens} AND ${ContainMaxSrcTokens}
       |    AND b.sz * 1000 >= a.sz * 900
       |  WHERE len(list_intersect(a.ws, b.ws)) * 1000 >= a.sz * 900)
       |SELECT doc_a, sz_a, count(*) AS n_containers,
       |  max(c_r) AS best_containment,
       |  CAST(min(CASE WHEN c_r = mx THEN doc_b END) AS BIGINT) AS best_doc_b
       |FROM (SELECT *, max(c_r) OVER (PARTITION BY doc_a) AS mx FROM pairs)
       |GROUP BY doc_a, sz_a ORDER BY doc_a""".stripMargin

  /** Dense-domain delta×corpus path: one bitmask per doc, per-side grouping
    * on DISTINCT masks, then a broadcast nested-loop join with the popcount
    * Jaccard inline — the A×B analogue of [[nearDupJaccardMask]]. Sides are
    * disjoint so there is no `mask_a < mask_b` canonicalization and no
    * within-group pair term: equal masks across sides are genuine J = 1
    * matches, admitted by the join condition itself.
    */
  private def deltaNearDupMask(docs: DataFrame, vocab: Array[String],
                               threshold: Double): DataFrame = {
    val masks = docs.select(col("doc_id"), maskExpr(vocab, col("ws0")).as("mask"))
    // repartition pins the quadratic probe's parallelism (see
    // nearDupJaccardMask — AQE would coalesce the KB-sized side to 1 task)
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val d = maskGroups(masks.filter(col("doc_id") % 5 === 0)).repartition(par)
      .select(col("mask").as("mask_d"), col("ids").as("ids_d"))
    val c = maskGroups(masks.filter(col("doc_id") % 5 =!= 0))
      .select(col("mask").as("mask_c"), col("ids").as("ids_c"))
    val j = Banding.maskJaccard(col("mask_d"), col("mask_c"))
    d.join(broadcast(c), j >= lit(threshold))
      .select(explode(col("ids_d")).as("doc_delta"), col("ids_c"), j.as("j"))
      .select(col("doc_delta"), explode(col("ids_c")).as("doc_corpus"), col("j"))
      .select(col("doc_delta"), col("doc_corpus"),
        OracleMath.stableRound(col("j"), 4).as("jaccard"))
      .orderBy(col("doc_delta"), col("doc_corpus"))
  }

  /** Dictionary-encode `(doc_id, ws0)` word sets as `(doc_id, ws, sz)`, `ws`
    * the sorted global rarity ranks (PrefixSum two-pass, no one-task window
    * sort): verification merges sorted int arrays, the shuffle moves ~4 B per
    * token, and a doc's PPJoin prefix is its first elements. Persisted: the
    * prefix explode and both verify sides would each re-derive it.
    */
  private[graft] def rarityTokenIds(docs: DataFrame): DataFrame = {
    val (ranks, vocabRows) = PrefixSum.rarityRanksCounted(
      docs.select(explode(col("ws0")).as("word")), "word")
    docs.select(col("doc_id"), explode(col("ws0")).as("word"))
      .join(Joins.broadcastIfFits(ranks, vocabRows * DictRowBytes), "word")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tok"))).as("ws"), count(lit(1)).as("sz"))
      .persistTracked()
  }

  /** PPJoin prefix length of a rarity-sorted set of size `sz` at threshold
    * t = tNum/tDen: sz − ⌈t·sz⌉ + 1, in exact integer arithmetic.
    */
  private def prefixLen(tNum: Int, tDen: Int): Column =
    (col("sz") - floor((col("sz") * tNum + (tDen - 1)) / tDen) + 1).cast("int")

  /** PPJoin candidate generation + the persisted token-id table (exposed for
    * the shuffle-volume spec: the verify join's work must be bounded by the
    * candidate multiset returned here, not by corpus²).
    */
  private[graft] def ppjoinCandidates(spark: SparkSession, docs: DataFrame,
                                      threshold: Double): (DataFrame, DataFrame) = {
    val ids = rarityTokenIds(docs)

    // EXACT integer arithmetic for the filter bounds — float forms are wrong
    // at boundaries: 1-0.9 = 0.0999…8 makes floor(sz·0.1)+1 one too short for
    // sz divisible by 10 (lossy prefix!), and sz >= 0.9·other fails for
    // exactly-boundary pairs (18 >= 18.000000000000004). Found as 5 missing
    // pairs vs the brute-force oracle at sf0.1. Threshold t = tNum/tDen;
    // prefix length = sz - ceil(t·sz) + 1, length filter tDen·a >= tNum·b.
    val tNum = math.round(threshold * 1000).toInt
    val tDen = 1000
    val prefixes = ids.select(col("doc_id"), col("sz"),
      explode(slice(col("ws"), lit(1), prefixLen(tNum, tDen))).as("tok"))

    // Candidate pairs share >=1 prefix token (lossless for J >= t), with the
    // PPJoin length filter applied at the join: J >= t forces
    // t·|B| <= |A| <= |B|/t, pruning size-mismatched pairs before any work.
    val cands = prefixes.as("a").join(prefixes.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id")
          && col("a.sz") * tDen >= col("b.sz") * tNum
          && col("b.sz") * tDen >= col("a.sz") * tNum)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))

    (cands, ids)
  }

  /** LSH banding parameters for [[lshNearDupPairs]]: k = bands·rows MinHash
    * permutations, 4 bands × 4 rows. More rows per band than the classic
    * (4×2) config because the collision probability per band is J^rows —
    * rows=2 admits 83% of J=0.6 pairs per band (on a corpus whose pair mass
    * sits at J 0.4-0.9 that is nearly all pairs, measured as the round-1
    * bench hot spot), rows=4 admits 13% while keeping 1−(1−t^4)^4 ≈ 98.6%
    * recall at t=0.9.
    */
  val LshBands = 4
  val LshRows = 4

  /** Default near-duplicate Jaccard threshold — the single source for BOTH
    * the Scala operator defaults and the SQL oracle twins (interpolated, so
    * calling an operator with a non-default threshold can't silently diverge
    * from a hardcoded constant in its twin).
    */
  val NearDupThreshold = 0.9

  /** Approximate near-dup pairs via MinHash-LSH banding + exact Jaccard
    * verification of candidates. Same output shape as [[nearDupJaccard]] but
    * the candidate set comes from band-bucket collisions (shuffle on band
    * keys) — the 100 TB path when even prefix-filtered joins run hot.
    * Approximate recall ⇒ no SQL oracle (driver rows-check); precision is
    * exact because candidates are re-verified against true Jaccard.
    *
    * Banding itself needs no corpus statistics (its 100 TB selling point);
    * the engine still probes dictionary cardinality (one cheap distinct) to
    * pick the *verifier* representation, exactly like [[nearDupJaccard]]:
    * on a dense domain (≤ 64 words) the token set travels as ONE long
    * bitmask through the band join and verification is two inline popcounts
    * — no array attach joins, no fat candidate rows. On this corpus the
    * banding admits 27.6M candidate pairs (the pair mass sits at J 0.4–0.9
    * where the 4×4 S-curve is not sharp), so the per-candidate row cost is
    * everything.
    */
  def lshNearDupPairs(spark: SparkSession, dir: String, threshold: Double = NearDupThreshold): DataFrame = {
    val docsRaw = Tables.documents(spark, dir)
      .select(col("doc_id"), array_distinct(words(col("text"))).as("ws0"))
    smallVocab(docsRaw) match {
      case Some(vocab) => lshNearDupMask(docsRaw, vocab, threshold)
      case None        => lshNearDupGeneral(docsRaw, threshold)
    }
  }

  /** Per-band LSH observability — the measured answer to "what is each band
    * buying me?": for every MinHash band, how many candidate pairs it
    * admits, how many pairs see it as their FIRST sharing band (marginal
    * contribution), how many of those are true near-dups, and the cumulative
    * recall against the exact pair set after bands 0..b. This is the query
    * that justifies (or re-tunes) the bands×rows configuration on a real
    * corpus instead of trusting the S-curve algebra; the whole rollup is
    * deterministic (the permutation family is fixed), so unlike classic
    * sketch metrics it carries a full hash-match SQL twin.
    *
    * Scale shape: band keys are minhash-slice tuples (computed in one
    * codegen pass per doc); candidates come from 4 band-key shuffles; the
    * truth denominator reuses [[nearDupJaccard]]'s LOSSLESS blocked join —
    * nothing here is all-pairs on the Spark side (the oracle replays
    * candidates as an N² filter, which DuckDB affords at test SFs).
    */
  def lshRecallRollup(spark: SparkSession, dir: String,
      threshold: Double = NearDupThreshold): DataFrame =
    lshRecallRollupBands(spark, dir, LshBands, threshold)

  /** [[lshRecallRollup]] generalized to an arbitrary band count (same
    * rows-per-band): the measurement half of [[chooseLshBands]]. The q153
    * oracle twin pins the default LshBands instance; other band counts are
    * spec-verified against an independent banded dataflow.
    */
  private[graft] def lshRecallRollupBands(spark: SparkSession, dir: String,
      nBands: Int, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.minhashSigs
    val k = nBands * LshRows
    val sigd = Tables.documents(spark, dir)
      .select(col("doc_id"), wordSet(col("text")).as("ws"))
      .withColumn("sig", minhashSigs(transform(col("ws"), w => wordHash(w)), k))
      .persistTracked()
    val banded = sigd.select(col("doc_id"),
        explode(Banding.minhashBands(col("sig"), nBands, LshRows)(
          (b, key) => struct(b.cast("long").as("band"), key.as("key")))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    // each doc has exactly one key per band, so a pair appears at most once
    // per band — no dedup needed inside a band
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.band").as("band"), col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .persistTracked()
    val perBandCand = cand.groupBy(col("band")).agg(count(lit(1)).as("n_cand"))
    val firstBand = cand.groupBy(col("doc_a"), col("doc_b")).agg(min(col("band")).as("band"))
    val wsA = sigd.select(col("doc_id").as("doc_a"), col("ws").as("ws_a"))
    val wsB = sigd.select(col("doc_id").as("doc_b"), col("ws").as("ws_b"))
    val newPerBand = firstBand.join(wsA, "doc_a").join(wsB, "doc_b")
      .withColumn("is_true",
        size(array_intersect(col("ws_a"), col("ws_b"))).cast("double")
          / size(array_union(col("ws_a"), col("ws_b"))).cast("double") >= threshold)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_new_true"))
    val total = nearDupJaccard(spark, dir, threshold)
      .agg(count(lit(1)).as("n_true_total"))
    val cw = org.apache.spark.sql.expressions.Window.orderBy(col("band"))
    spark.range(nBands).toDF("band")
      .join(perBandCand, Seq("band"), "left")
      .join(newPerBand, Seq("band"), "left")
      .crossJoin(total)
      .select(col("band"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_new_true"), lit(0L)).as("n_new_true"),
        col("n_true_total"))
      .withColumn("cum_true", sum(col("n_new_true")).over(cw))
      .withColumn("recall", OracleMath.stableRound(
        col("cum_true").cast("double") / col("n_true_total"), 6))
      .orderBy(col("band"))
  }

  /** Adaptive banding: choose the SMALLEST band count whose measured
    * cumulative recall (vs the exact near-dup pair set, [[nearDupJaccard]])
    * meets `targetRecall` — the S-curve algebra replaced by the corpus's own
    * measured curve, which is what [[lshRecallRollup]] exists to provide.
    * Returns `maxBands` when even the full budget misses the target (the
    * caller should then revisit rows-per-band, not bands). On a 100 TB
    * corpus this runs over a sample table — band choice is a statistic, not
    * a scan of the corpus; the chosen count then configures the production
    * banded sweep.
    */
  def chooseLshBands(spark: SparkSession, dir: String,
      targetRecall: Double = 0.95, maxBands: Int = 8,
      threshold: Double = NearDupThreshold): Int = {
    // bounded-collect: one recall row per candidate band count — ≤ maxBands rows
    val roll = lshRecallRollupBands(spark, dir, maxBands, threshold)
      .select(col("band"), col("recall"), col("n_true_total")).collect()
      .sortBy(_.getLong(0))
    // no true pairs at this threshold: any banding vacuously suffices
    if (roll.headOption.exists(_.getLong(2) == 0L)) return 1
    roll.find(r => !r.isNullAt(1) && r.getDouble(1) >= targetRecall)
      .map(_.getLong(0).toInt + 1).getOrElse(maxBands)
  }

  /** Shared q39/q170 oracle: banded MinHash candidates + exact-Jaccard
    * verification at the default threshold — the batch and streaming LSH
    * operators are held to the SAME SQL twin.
    */
  private[graft] lazy val lshPairsOracleSql: String = {
    val k = LshBands * LshRows
    val mhDefs = (0 until k).map { i =>
      s"list_min(list_transform(hs, h -> (${2L * i + 3}*h + ${7L * i + 1}) % ${P})) AS mh$i"
    }.mkString(",\n ")
    val shareBand = (0 until LshBands).map { b =>
      (0 until LshRows).map(r => s"a.mh${b * LshRows + r} = b.mh${b * LshRows + r}")
        .mkString("(", " AND ", ")")
    }.mkString(" OR ")
    val jac = "CAST(len(list_intersect(ws_a, ws_b)) AS DOUBLE) / len(list_distinct(list_concat(ws_a, ws_b)))"
    s"""WITH ds AS (
       |  SELECT doc_id, $wordSetSql AS ws,
       |         list_transform(list_distinct(string_split(text,' ')), w -> ${wordHashSql("w")}) AS hs
       |  FROM documents),
       |sigs AS (SELECT doc_id, ws, $mhDefs FROM ds),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ws AS ws_a, b.ws AS ws_b
       |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ($shareBand))
       |SELECT doc_a, doc_b, ${OracleMath.stableRoundSql(jac, 4)} AS jaccard
       |FROM cand
       |WHERE $jac >= $NearDupThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Band-key column for [[lshNearDupPairs]]: one long per band —
    * xxhash64(band index, the band's `rows` signature values). The k
    * signature values come from ONE codegen pass over the word-hash array
    * ([[graft.functions.MinhashSigs]] kernel) instead of k interpreted
    * array_min∘transform scans.
    */
  private[graft] def bandKeys(hashes: Column): Column = {
    import graft.functions.VectorFunctions.minhashSigs
    val sig = minhashSigs(hashes, LshBands * LshRows)
    Banding.minhashBands(sig, LshBands, LshRows)((b, key) => xxhash64(b, key))
  }

  /** Scala twin of [[TextFunctions.wordHash]] (only sketch-internal — q39 is
    * rows-checked, so no oracle depends on it; the fold matches the column
    * version for BMP/ASCII vocabularies).
    */
  private def wordHashScala(w: String): Long =
    w.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % P)

  /** Dense-domain LSH path. Exact duplicates collapse FIRST (group by
    * bitmask — the standard exact-dedup pre-pass before any near-dup sweep),
    * so banding, candidate generation, popcount verification and the
    * exactly-once dedup all run over DISTINCT masks (~20% fewer rows,
    * ~40% fewer candidate pairs, and the dedup shuffle moves skinny group
    * pairs before expansion instead of the expanded doc pairs). Jaccard is
    * evaluated inline at the join; nothing wider than three longs plus the
    * small member-id lists ever moves.
    */
  private def lshNearDupMask(docsRaw: DataFrame, vocab: Array[String],
                             threshold: Double): DataFrame = {
    val groups = maskGroups(docsRaw.select(col("doc_id"), maskExpr(vocab, col("ws0")).as("mask")))

    // MinHash signatures recomputed from the mask: reconstruct the word-hash
    // set from precomputed vocabulary hashes (array literal + bit test), then
    // the same one-pass kernel. Runs once per DISTINCT mask.
    val vocabHashes = array(vocab.toIndexedSeq.map(w => lit(wordHashScala(w))): _*)
    val hsFromMask = filter(
      zip_with(vocabHashes, array(vocabBits(vocab): _*),
        (h, b) => when(col("mask").bitwiseAND(b) =!= 0L, h)),
      h => h.isNotNull)
    val banded = groups.select(col("mask"), explode(bandKeys(hsFromMask)).as("band"))
    lshMaskPairs(banded, groups, threshold)
  }

  /** Dense-domain LSH candidate-and-verify over `(mask, band)` rows, `band`
    * a [[bandKeys]] bucket key (q39's, and q170's streamed buckets). Masks
    * sharing a bucket and passing the popcount Jaccard in the join condition
    * become group pairs, deduped before expansion through `groups`. Band
    * rows carry no id arrays (measured: arrays through the ~17M-candidate
    * join cost as much as the whole query). `groups` is read from files, so
    * its member-id lists are sized by their scan estimate
    * ([[Joins.scanEstimatedBytes]]), which grows with the corpus.
    */
  private[graft] def lshMaskPairs(bandMasks: DataFrame, groups: DataFrame,
                                  threshold: Double): DataFrame = {
    val groupBytes = Joins.scanEstimatedBytes(groups)
    val groupPairs = bandMasks.as("a").join(bandMasks.as("b"),
        col("a.band") === col("b.band") && col("a.mask") < col("b.mask")
          && Banding.maskJaccard(col("a.mask"), col("b.mask")) >= lit(threshold))
      .select(col("a.mask").as("mask_a"), col("b.mask").as("mask_b"))
      .dropDuplicates("mask_a", "mask_b")
      .join(Joins.broadcastIfFits(groups.select(col("mask").as("mask_a"), col("ids").as("ids_a")), groupBytes), "mask_a")
      .join(Joins.broadcastIfFits(groups.select(col("mask").as("mask_b"), col("ids").as("ids_b")), groupBytes), "mask_b")
      .select(col("ids_a"), col("ids_b"), Banding.maskJaccard(col("mask_a"), col("mask_b")).as("j"))
    maskGroupDocPairs(groupPairs, groups)
  }

  /** General-vocabulary LSH path: word hashes only feed the band keys; the
    * verify runs on exact rarity token ids, so two words whose hashes
    * collide still count as two.
    */
  private[graft] def lshNearDupGeneral(docsRaw: DataFrame, threshold: Double): DataFrame = {
    val bands = docsRaw.select(col("doc_id"),
      explode(bandKeys(transform(col("ws0"), wordHash(_)))).as("band"))
    lshGeneralPairs(bands, rarityTokenIds(docsRaw), threshold)
  }

  /** General-vocabulary LSH candidate-and-verify over `(doc_id, band)` rows,
    * `band` a [[bandKeys]] bucket key (q39's, and q170's streamed buckets),
    * against the [[rarityTokenIds]] table `ids` of the same docs: every
    * candidate is verified on its true word sets. Candidates stay SKINNY
    * (two longs) through the band self-join; arrays attach afterwards in
    * [[verifyPairs]], which verifies before it dedupes (at most `LshBands`
    * duplicate verifications per pair). An
    * exactly-once-emission variant (per-band joins guarded by "earlier bands
    * differ", arrays carried through the join) was measured 2× slower on
    * collision-dense data — array materialization at the join dominates.
    */
  private[graft] def lshGeneralPairs(bandDocs: DataFrame, ids: DataFrame,
                                     threshold: Double): DataFrame = {
    val cands = bandDocs.as("a").join(bandDocs.as("b"), "band")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    verifyPairs(cands, ids, threshold)
  }

  /** Dedup-cluster resolution: connected components over the near-duplicate
    * pair graph — the step that turns pairwise "A≈B" edges into canonical
    * clusters so a training-data pipeline can keep ONE representative per
    * cluster (pairs alone can't: near-dup is not transitive, but the cluster
    * decision must be).
    *
    * The pair graph is closed by [[components]]: single-task union-find at
    * registry scales, min-label propagation with pointer jumping (and a
    * large-star/small-star fallback) past its measured cutover.
    */
  def dedupClusters(spark: SparkSession, dir: String, threshold: Double = NearDupThreshold): DataFrame = {
    // Contract exact-duplicate groups FIRST (identical word sets have J = 1 ≥
    // t, so a group is always one clique): nodes become group representatives
    // and edges become rep-level near-dup pairs — measured 5000 docs / 965k
    // doc-pairs → 3935 reps / 29k rep-pairs at sf0.1 (33× fewer edges), and
    // the pair join itself runs on the contracted node set. This is the
    // standard exact-dedup pre-pass; docs expand back at the end. (If the
    // corpus could contain empty word sets — J = 0/0, never near-dup — they
    // would need singleton groups; this corpus has none, and group semantics
    // for non-empty identical sets match the pair semantics exactly.)
    // the group key must be the SORTED set: an unsorted array_distinct keeps
    // word ORDER, so shuffled duplicates land in different groups and the
    // contraction collapses almost nothing (measured: 963k rep pairs
    // unsorted vs 29k sorted at sf0.1)
    val ds = Tables.documents(spark, dir)
      .select(col("doc_id"), wordSet(col("text")).as("ws0"))
    val groups = ds.groupBy(col("ws0"))
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("ids"))
      .persistTracked()
    val reps = groups.select(col("rep").as("doc_id"), col("ws0"))
    val labels = components(reps, nearDupPairsOn(spark, reps, threshold))
    // expand reps back to member docs; a component's min doc IS a rep
    // (group rep = min of group), so the component's min-rep label is the
    // min doc_id of the whole cluster.
    val docLabels = groups
      .select(col("rep"), explode(col("ids")).as("doc_id"))
      .join(labels.select(col("doc_id").as("rep_id"), col("label")),
        col("rep") === col("rep_id"))
      .select(col("doc_id"), col("label").as("cluster_id"))
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    docLabels
      .withColumn("cluster_size", count(lit(1)).over(cw))
      .orderBy(col("doc_id"))
  }

  /** Rounds of propagate+jump before [[components]] abandons label
    * propagation for the star algorithm: pointer jumping converges in
    * ~log₂(diameter) rounds, so 8 rounds cover diameter ≈ 250 — any graph
    * still unconverged is genuinely high-diameter.
    */
  val LabelPropMaxRounds = 8

  /** Measured cutover for [[components]]: at or below this many DIRECTED
    * edge rows (two per pair) the component graph is solved by a
    * SINGLE-TASK union-find instead of the distributed loop. 2M directed
    * edges = 1M pairs → a specialized LongMap of ≤ 2M entries ≈ 32 MB in
    * one task — comfortably inside any executor, and the honest price
    * comparison is stark: the loop pays 3 materializations × O(log
    * diameter) rounds of pure scheduling overhead on a graph this small
    * (measured: 5 444 edges cost ~5 s and ~40 jobs through the loop,
    * ~0.2 s and 2 jobs through the union-find). Past the cutover the loop
    * takes over — at a genuine 100 TB edge set no single task can hold the
    * graph, and the bound keeps this a measured decision rather than a
    * benchmark special-case: the decision statistic (the pair count) is
    * taken anyway, once, on the persisted pair set.
    */
  val SingleTaskCCMaxEdges = 2000000L

  /** Connected components — the ONE operator every CC consumer calls
    * (q101, q144, q149, q315 and the q338/q341 yesterday-labels build;
    * [[incrementalCC]] shares its [[endpointLabels]] core). Input: `nodes`
    * (`doc_id`) and `pairs` (the first two columns are the endpoints, in
    * either orientation). Output: (doc_id, label = component-minimum id)
    * for every node, a node in no pair labelling itself. All three
    * algorithms (union-find, min-label propagation, star contraction)
    * provably produce exactly this labelling, so the route is invisible to
    * oracles. Callers neither persist nor count the pairs: this does.
    */
  private[graft] def components(nodes: DataFrame, pairs: DataFrame): DataFrame =
    nodes.select(col("doc_id"))
      .join(endpointLabels(pairs), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label"))

  /** Component-minimum labels for every PAIR ENDPOINT:
    *
    *  1. canonicalise to (least, greatest) — the star fallback assumes
    *     `doc_a < doc_b`; union-find and propagation are order-blind;
    *  2. persist and count — every route reads the pairs more than once
    *     (the loop twice per round), and the count is the cutover statistic;
    *  3. route — single-task union-find when 2·pairs ≤
    *     [[SingleTaskCCMaxEdges]] and both ids are `LongType` (its LongMap's
    *     key); otherwise propagation with pointer jumping, falling back to
    *     large-star/small-star after [[LabelPropMaxRounds]] rounds;
    *  4. unpersist in a `finally`, so a mid-loop failure cannot leak the
    *     cache. Every route returns labels cut from the pair lineage
    *     (`localCheckpoint`), so a consumer running after the unpersist
    *     never re-runs the caller's pair pipeline (the r12 lesson).
    */
  private def endpointLabels(pairs0: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge.{cloneSession, rebind}
    val Seq(ca, cb) = pairs0.columns.take(2).toSeq
    val pairs = pairs0
      .select(least(col(ca), col(cb)).as("doc_a"), greatest(col(ca), col(cb)).as("doc_b"))
      .persistTracked()
    try {
      val nPairs = pairs.count()
      val longIds = pairs.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)
      if (nPairs * 2 <= SingleTaskCCMaxEdges && longIds) unionFind(pairs)
      else {
        // The loop's joins move |edges| rows, so its shuffles are sized from
        // the measured count (~2M edges per partition, floor 2) instead of
        // the corpus-width session default. The width lives on a session
        // CLONE (same SparkContext and CacheManager, so the persisted pairs
        // still hit), never on the caller's conf, which would rescope any
        // unrelated query planned in the window; the labels are rebound to
        // the caller's session.
        val spark = pairs.sparkSession
        val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
        val loop = cloneSession(spark)
        loop.conf.set("spark.sql.shuffle.partitions",
          math.max(2L, math.min(sessionParts, nPairs * 2 / 2000000L + 1L)).toString)
        val p = rebind(pairs, loop)
        val edges = p.select(explode(array(
            struct(col("doc_a").as("src"), col("doc_b").as("dst")),
            struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        val ends = edges.select(col("src").as("doc_id")).distinct()
        rebind(labelPropagation(ends, edges, LabelPropMaxRounds).getOrElse(starLabels(p)), spark)
      }
    } finally pairs.unpersist()
  }

  /** INCREMENTAL connected components — the daily-dedup primitive: given
    * yesterday's component labels and today's DELTA edges, relabel without
    * touching yesterday's edge set. Today's endpoints are projected onto
    * label space (an id unseen yesterday labels itself), giving a
    * CONTRACTED graph bounded by the delta size — each old component is
    * one node — which [[endpointLabels]] solves; the solved roots then
    * remap yesterday's corpus-sized label table with ONE join.
    * Correctness: contracting a component to a vertex preserves
    * connectivity, and since every old label is its component's minimum
    * id, the contracted solution's root is the global minimum of the
    * merged components — so the output is bit-identical to a full
    * recompute over (old ∪ delta) edges (q338's oracle IS q149's
    * full-recompute CTE). At 100 TB this is the difference between
    * re-clustering billions of edges nightly and solving a delta-bounded
    * graph + one broadcast-sized remap join.
    */
  private[graft] def incrementalCC(oldLabels: DataFrame, newNodes: DataFrame,
      deltaPairs: DataFrame): DataFrame = {
    val Seq(ca, cb) = deltaPairs.columns.take(2).toSeq
    // canonical before the distinct, so both orientations of a contracted
    // edge collapse to one row
    val contracted = deltaPairs
      .join(oldLabels.select(col("doc_id").as(ca), col("label").as("__la")), Seq(ca), "left")
      .join(oldLabels.select(col("doc_id").as(cb), col("label").as("__lb")), Seq(cb), "left")
      .select(coalesce(col("__la"), col(ca)).as("a"), coalesce(col("__lb"), col(cb)).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("doc_a"), greatest(col("a"), col("b")).as("doc_b"))
      .distinct()
    // roots of the contracted graph: old-label → merged component minimum.
    // Contracted nodes exist only inside pairs, so the endpoint labels need
    // no join-back; they come back cut from the contraction's lineage, so
    // the remap below never re-derives the caller's pair pipeline after the
    // cache is gone (measured: 2× the ann build, 40 vs 20 jobs on q338).
    val rootMap = endpointLabels(contracted)
      .select(col("doc_id").as("__from"), col("label").as("__root"))
    val allNodes = oldLabels.select(col("doc_id"), col("label"))
      .unionByName(newNodes.select(col("doc_id"), col("doc_id").as("label")))
    allNodes
      .join(rootMap, allNodes("label") === rootMap("__from"), "left")
      .select(col("doc_id"), coalesce(col("__root"), col("label")).as("label"))
  }

  /** Single-task union-find over a `LongType` pair list (the
    * [[endpointLabels]] fast path): one exchange moves the ≤
    * [[SingleTaskCCMaxEdges]]-row pair set to one task (the pair BUILD
    * upstream stays fully parallel — this is a repartition, not a
    * coalesce, precisely so the exchange boundary isolates the narrow
    * part), and union-by-minimum with path compression labels every
    * endpoint with its component minimum. Union-by-min keeps the invariant
    * "root = min of merged set" inductively, so the output is identical to
    * the loop's fixpoint. The tiny (≤ 2·pairs) result is checkpointed.
    */
  private def unionFind(pairs: DataFrame): DataFrame = {
    val sess = pairs.sparkSession
    import sess.implicits._
    pairs.as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x0: Long): Long = {
          var root = x0
          while (parent.getOrElse(root, root) != root) root = parent(root)
          var x = x0
          while (x != root) { val nxt = parent(x); parent(x) = root; x = nxt }
          root
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        parent.keys.toArray.sorted.iterator.map(k => (k, find(k)))
      }
      .toDF("doc_id", "label")
      .checkpointTracked()
  }

  /** Min-label propagation with pointer jumping over a symmetric edge set.
    * One round = propagate (min label over the neighborhood) then
    * pointer-jump (label ← label(label), path halving); `localCheckpoint`
    * truncates the iterative lineage. The jump turns O(diameter) rounds
    * into O(log diameter) — a mutated corpus's near-dup graph is a CHAIN,
    * not a clique (measured diameter ~7 on q101 at sf0.1). Returns None if
    * `maxRounds` rounds did not reach the fixpoint.
    *
    * Convergence is detected at the PROPAGATE step, before the round's jump
    * joins ever run: propagate-no-change means `label(u) ≤ label(v)` for
    * every symmetric edge — so labels are constant per component — and a
    * label value never leaves its component, so that constant is the
    * component minimum. The previous Σ(labels) scheme could only see the
    * fixpoint AFTER materializing a full round (neighborhood agg + two
    * joins + two checkpoints + a sum action) whose jump provably changes
    * nothing; on the match graphs the linkage family feeds this loop
    * (diameter ≤ 2, converged after round 1) that was a third of the whole
    * CC cost.
    */
  private[graft] def labelPropagation(reps: DataFrame, edges: DataFrame,
                                      maxRounds: Int): Option[DataFrame] = {
    var labels = reps
      .select(col("doc_id"), col("doc_id").as("label"))
      .checkpointTracked()
    var round = 0
    while (round <= maxRounds) {
      val neighborMin = edges.join(labels, edges("src") === labels("doc_id"))
        .groupBy(col("dst")).agg(min(col("label")).as("nmin"))
      // checkpointed: the convergence probe and the jump join both read
      // `prop`, and its lineage holds the neighborhood shuffle agg —
      // recomputing that per read costs far more than the eager
      // materialization (measured 2.5× on the semantic-cluster graph)
      val prop = labels.join(neighborMin, labels("doc_id") === neighborMin("dst"), "left")
        .select(labels("doc_id"), labels("label").as("old"),
          least(labels("label"), coalesce(col("nmin"), labels("label"))).as("label"))
        .checkpointTracked()
      if (prop.filter(col("label") =!= col("old")).isEmpty) return Some(labels)
      if (round == maxRounds) return None // unconverged; don't pay a dead jump
      val p2 = prop.drop("old")
      val next = p2.as("l")
        .join(p2.select(col("doc_id").as("p_id"), col("label").as("p_label")),
          col("l.label") === col("p_id"))
        .select(col("l.doc_id").as("doc_id"), col("p_label").as("label"))
        .checkpointTracked()
      labels = next
      round += 1
    }
    None
  }

  /** Alternating large-star / small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") over a canonical
    * undirected pair set `(doc_a < doc_b)` — the high-diameter fallback of
    * the [[components]] loop: O(log n) rounds regardless of graph shape, each
    * round two groupBy/join passes over the current edge set.
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(N(u) ∪ {u});
    *  - small-star(u): every neighbor v < u, and u itself, attach to
    *    m = min({v ∈ N(u): v < u} ∪ {u}).
    *
    * Both preserve connectivity and monotonically shrink the potential;
    * at fixpoint every component is a star rooted at its minimum node.
    * Returns (doc_id, label) for every pair endpoint.
    */
  private[graft] def starLabels(pairs: DataFrame): DataFrame = {
    var e = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .distinct().checkpointTracked()
    var done = e.isEmpty
    while (!done) {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      // large-star: m over the FULL neighborhood, re-attach larger neighbors
      val mL = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mL, "u").filter(col("v") > col("u"))
        .select(col("v").as("x"), col("m").as("y"))
      val el = large.filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
        .distinct().checkpointTracked()
      // small-star over the large-star output
      val sym2 = el.select(col("a").as("u"), col("b").as("v"))
        .union(el.select(col("b").as("u"), col("a").as("v")))
      val smaller = sym2.filter(col("v") < col("u"))
      val mS = smaller.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = smaller.join(mS, "u")
        .select(col("v").as("x"), col("m").as("y"))
        .unionByName(mS.select(col("u").as("x"), col("m").as("y")))
      val es = small.filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
        .distinct().checkpointTracked()
      // fixpoint = canonical edge set unchanged (count gate first: the
      // except() runs only on candidate-converged rounds, usually the last)
      val same = es.count() == e.count() && es.exceptAll(e).isEmpty
      e = es
      done = same
    }
    // at fixpoint every edge is (root=a, member=b): root is the component
    // min, and a root labels itself
    e.select(col("b").as("doc_id"), col("a").as("label"))
      .unionByName(e.select(col("a").as("doc_id"), col("a").as("label")))
      .groupBy(col("doc_id")).agg(min(col("label")).as("label"))
  }

  /** Fuzzy key matching: distinct-key pairs within a small edit distance —
    * the typo-dedup cousin of the set-based near-dup joins (classic for
    * normalizing user-entered titles before enrichment). Runs over
    * *distinct keys* only (the reference's own distinct-first optimization),
    * and — unlike a naive `name_a < name_b` nested loop, which is quadratic
    * in the distinct-key count — generates candidates by ED-Join-style
    * blocking (Xiao et al., q-gram prefix filtering for edit distance):
    *
    *  - **length band** — ED ≤ d forces |len(a) − len(b)| ≤ d, applied in
    *    the candidate join condition;
    *  - **q-gram prefix** — one edit destroys at most q distinct q-gram
    *    types, so two strings within ED ≤ d must share one of their q·d+1
    *    globally-rarest q-grams (prefix-filter theorem over the rarity-
    *    ordered gram sets) — candidates come from an equi-join on prefix
    *    grams, bounded by rare-gram posting-list sizes;
    *  - **short-string fallback** — strings with fewer than q·d+1 grams
    *    (length < q·d+q) are not covered by the theorem; they form a tiny
    *    length-bounded band joined exhaustively (empty on real part names).
    *
    * Verification (`levenshtein`) runs only on the candidate set, so the
    * quadratic kernel touches posting-list-bounded pairs, not n(n−1)/2.
    */
  def fuzzyKeyPairs(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame =
    fuzzyCandidates(spark, dir, maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist").cast("long").as("dist"))
      .orderBy(col("name_a"), col("name_b"))

  /** Candidate generation for [[fuzzyKeyPairs]] on the q53 input table. */
  private[graft] def fuzzyCandidates(spark: SparkSession, dir: String, maxDist: Int): DataFrame =
    fuzzyCandidatesOn(
      Tables.part(spark, dir).select(col("p_name").as("name")).distinct(), maxDist)

  /** ED-Join candidate generation over any distinct single-column `name`
    * frame (exposed for the blocking-effectiveness spec): a lossless
    * superset of all ED ≤ `maxDist` pairs, as `(name_a, name_b)` with
    * `name_a < name_b`.
    */
  private[graft] def fuzzyCandidatesOn(names0: DataFrame, maxDist: Int): DataFrame = {
    val q = 2
    val prefLen = q * maxDist + 1
    val minLen = q * maxDist + q // below this a string has < q·d+1 grams
    val names = names0.withColumn("len", length(col("name")))
      .persistTracked()

    // distinct q-grams per name; global rarity rank doubles as an int token
    // (same dictionary-encode trick as the PPJoin path: the prefix join
    // moves 4-byte ints, and rarest-first order is just ascending tok; the
    // rank is the PrefixSum two-pass — no one-task gram-dictionary sort)
    val grams = names.select(col("name"), col("len"),
      explode(expr(s"array_distinct(transform(sequence(1, CAST(length(name) AS INT) - ${q - 1}), i -> substr(name, i, $q)))")).as("g"))
    val (ranks, vocabRows) = PrefixSum.rarityRanksCounted(grams.select(col("g")), "g")
    val pref = grams.join(Joins.broadcastIfFits(ranks, vocabRows * DictRowBytes), "g")
      .groupBy(col("name"), col("len"))
      .agg(sort_array(collect_list(col("tok"))).as("toks"))
      .select(col("name"), col("len"), explode(slice(col("toks"), 1, prefLen)).as("tok"))

    val longCands = pref.as("a").join(pref.as("b"),
        col("a.tok") === col("b.tok") && col("a.name") < col("b.name")
          && abs(col("a.len") - col("b.len")) <= maxDist
          && col("a.len") >= minLen && col("b.len") >= minLen)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))

    // fallback band: any pair involving a short string (either side) has
    // both lengths < minLen + maxDist by the length filter — exhaustive
    // within that bounded band only
    val shorts = names.filter(col("len") < minLen).select(col("name").as("name_a"))
    val shortCands = shorts.join(
        names.filter(col("len") < minLen + maxDist).select(col("name").as("name_b")),
        col("name_a") =!= col("name_b"))
      .select(least(col("name_a"), col("name_b")).as("name_a"),
        greatest(col("name_a"), col("name_b")).as("name_b"))

    longCands.unionByName(shortCands).dropDuplicates("name_a", "name_b")
  }

  /** SimHash (64-bit, Charikar) over the distinct word set: bit i of the
    * fingerprint is the sign of Σ_w (±1 by bit i of mix64(word hash)),
    * computed by the one-pass [[graft.functions.SimHash64]] codegen kernel.
    * Near-duplicates land at small Hamming distance; the fingerprint is one
    * long per doc so dedup at scale is a cheap groupBy/band on fingerprint
    * prefixes. 64 bits (the web-crawl-dedup standard) rather than 16: on a
    * 16-bit fingerprint this corpus's dense similarity put 60% of ALL pairs
    * within Hamming ≤ 3 — a degenerate sketch whose pair query cost the
    * round-1 bench ~16 s for meaningless output.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashBase(spark, dir).orderBy(col("doc_id"))

  private def simhashBase(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.simhash64(wordSetHashes(col("text"))).as("simhash"))
  }

  /** SimHash near-dup pairs via bit-band blocking: split the 64-bit
    * fingerprint into 4 × 16-bit bands; pairs within Hamming distance ≤ 3
    * must agree on at least one band (pigeonhole — lossless blocking), so
    * candidates come from the band-bucket self-join of
    * [[Banding.hammingNearDup]], then exact popcount verification. The
    * whole pipeline runs on one long per doc — the cheapest near-dup
    * operator at 100 TB (no arrays shuffled at all). Rows-check (bit-level
    * sketch, no SQL twin); spec-checked lossless against the brute-force
    * Hamming join.
    */
  def simhashNearDup(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    Banding.hammingNearDup(simhashBase(spark, dir), "simhash", maxHamming)

  // ---------------------------------------------------------------------------

  /** DuckDB twin of [[graft.functions.SketchKernels.mix64]] (murmur fmix64)
    * as an UNSIGNED HUGEINT expression: 64-bit wrapping multiplies become
    * `(HUGEINT · c) % 2^64`, logical `>>> 33` becomes unsigned integer
    * division, and xor runs on the re-signed BIGINT bit pattern. Valid for
    * inputs 0 ≤ h < 2^33 (word hashes are < 2^20), where the first
    * `z ^= z >>> 33` is the identity.
    */
  private def mixuSql(h: String): String = {
    val C1 = BigInt("18397679294719823053") // 0xff51afd7ed558ccd unsigned
    val C2 = BigInt("14181476777654086739") // 0xc4ceb9fe1a85ec53 unsigned
    val M = "18446744073709551616"  // 2^64
    val H = "9223372036854775808"   // 2^63
    val B = "4294967296"            // 2^32
    def signed(x: String) = s"CAST(CASE WHEN ($x) >= $H THEN ($x) - $M ELSE ($x) END AS BIGINT)"
    def unsigned(x: String) = s"(CAST(($x) AS HUGEINT) + CASE WHEN ($x) < 0 THEN CAST($M AS HUGEINT) ELSE 0 END)"
    // (z·c) mod 2^64 with every intermediate < 2^96 (INT128-safe): split c
    // into 32-bit halves — z·c_lo mod 2^64 + ((z mod 2^32)·c_hi mod 2^32)·2^32
    def mulmod(z: String, c: BigInt): String = {
      val hi = c >> 32
      val lo = c & BigInt("4294967295")
      s"(((($z) * $lo) % $M + (((($z) % $B) * $hi) % $B) * $B) % $M)"
    }
    val m1u = mulmod(s"CAST($h AS HUGEINT)", C1)
    val z2 = s"xor(${signed(m1u)}, CAST(($m1u) // 8589934592 AS BIGINT))"
    val m2u = mulmod(unsigned(z2), C2)
    val z3 = s"xor(${signed(m2u)}, CAST(($m2u) // 8589934592 AS BIGINT))"
    unsigned(z3)
  }

  /** SimHash CTE prefix shared by the q40/q59 oracles: per doc, the word
    * hashes, their mix64 spreads, and the 64-bit fingerprint — bit i set
    * when strictly more than half the words have bit i of their mix set
    * (2·ones > n ⟺ Σ(±1) > 0, exactly the kernel's count test). `shu` keeps
    * the unsigned form for band extraction; `simhash` re-signs bit 63.
    */
  private def simhashCteSql: String = {
    val fpTerms = (0 until 64).map { i =>
      val p2 = java.math.BigInteger.valueOf(2).pow(i).toString
      s"(CASE WHEN 2*list_sum(list_transform(mx, m -> CAST((m // $p2) % 2 AS BIGINT))) > len(mx) THEN CAST($p2 AS HUGEINT) ELSE 0 END)"
    }.mkString(" + ")
    s"""ds AS (
       |  SELECT doc_id, list_transform(list_distinct(string_split(text,' ')), w -> ${wordHashSql("w")}) AS hs
       |  FROM documents),
       |mxt AS (SELECT doc_id, list_transform(hs, h -> ${mixuSql("h")}) AS mx FROM ds),
       |sh AS (
       |  SELECT doc_id, fpu AS shu,
       |    CAST(CASE WHEN fpu >= 9223372036854775808 THEN fpu - 18446744073709551616 ELSE fpu END AS BIGINT) AS simhash
       |  FROM (SELECT doc_id, ($fpTerms) AS fpu FROM mxt))""".stripMargin
  }

  /** Sorted-neighborhood parameters: neighborhood width w (each doc is
    * compared to the w docs following it in blocking-key order) and the
    * integer-exact verify threshold 4∕5 (Jaccard ≥ 0.8).
    */
  val SnWindow = 5
  val SnPrefixLen = 40

  /** q287 — sorted-neighborhood blocking (Hernández–Stolfo merge/purge):
    * the THIRD blocking family next to LSH banding (q39) and PPJoin prefix
    * filtering (q38) — sort the corpus by a cheap blocking key (here the
    * 40-char text prefix), compare each document only to its w successors
    * in that order, verify survivors with exact word-set Jaccard. The
    * candidate space is w·n by CONSTRUCTION (not data-dependent like
    * posting lists), which is why record-linkage systems reach for it when
    * key skew makes posting-based blocking explode.
    *
    * Scale shape: the global sort position comes from [[PrefixSum.cumSums]]
    * (range-partition two-pass — never an unpartitioned `row_number`
    * window); neighbor pairing is an EQUI-join on the rank block
    * `⌊(rn−1)∕w⌋` with the left side exploded to (block, block+1) — every
    * pair at distance ≤ w shares one of the two keys, each candidate
    * appears exactly once under the `rn_a < rn_b ≤ rn_a + w` filter, and
    * the join partitions on a scalar block id (word-set arrays ride as
    * values, the q36 discipline). Verify is the codegen'd builtin
    * `array_intersect` size with the 4∕5 threshold in exact integer
    * arithmetic — no float boundary.
    */
  def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    val nParts = math.max(2, spark.sparkContext.defaultParallelism / 4)
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, SnPrefixLen).as("bk"),
        wordSet(col("text")).as("ws"))
    val ranked = PrefixSum.cumSums(d, Seq(col("bk"), col("doc_id")),
        Seq("rn" -> lit(1L)), nParts).df
      .select(col("doc_id"), col("ws"), col("cum_rn").as("rn"),
        expr(s"(cum_rn - 1) DIV $SnWindow").as("blk"))
    val left = ranked.select(col("doc_id").as("id_a"), col("ws").as("ws_a"),
        col("rn").as("rn_a"), explode(array(col("blk"), col("blk") + 1)).as("jk"))
    val right = ranked.select(col("doc_id").as("id_b"), col("ws").as("ws_b"),
      col("rn").as("rn_b"), col("blk").as("jk"))
    val inter = size(array_intersect(col("ws_a"), col("ws_b"))).cast("long")
    val uni = size(col("ws_a")).cast("long") + size(col("ws_b")).cast("long") - col("i")
    left.join(right, Seq("jk"))
      .filter(col("rn_a") < col("rn_b") && col("rn_b") - col("rn_a") <= SnWindow)
      .withColumn("i", inter).withColumn("u", uni)
      .filter(col("i") * 5 >= col("u") * 4)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        (col("rn_b") - col("rn_a")).as("gap"),
        OracleMath.stableRound(col("i").cast("double") / col("u").cast("double"), 4)
          .as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The q287 twin: the same sort order, neighborhood predicate and exact
    * integer threshold, with the window as a plain rank-distance join.
    */
  val sortedNeighborhoodOracle: String =
    s"""WITH d AS (SELECT doc_id, substr(text, 1, $SnPrefixLen) AS bk,
       |    $wordSetSql AS ws FROM documents),
       |r AS (SELECT doc_id, ws, row_number() OVER (ORDER BY bk, doc_id) AS rn FROM d),
       |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(b.rn - a.rn AS BIGINT) AS gap,
       |    CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS i,
       |    CAST(len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws)) AS BIGINT) AS u
       |  FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND $SnWindow)
       |SELECT doc_a, doc_b, gap,
       |  ${OracleMath.stableRoundSql("CAST(i AS DOUBLE) / CAST(u AS DOUBLE)", 4)} AS jaccard
       |FROM c WHERE i * 5 >= u * 4
       |ORDER BY doc_a, doc_b""".stripMargin

  def oracle: Map[String, String] = Map(
    "q40_simhash" ->
      s"""WITH $simhashCteSql
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,
    // pigeonhole pair join: Hamming ≤ 3 on 64 bits forces agreement on one
    // of the 4 16-bit bands; the OR-band join emits each pair once, the
    // popcount verify is exact — same dataflow as the Spark plan
    "q59_simhash_neardup" -> {
      val shareBand = (0 until 4).map { k =>
        val div = java.math.BigInteger.valueOf(2).pow(16 * k).toString
        s"(a.shu // $div) % 65536 = (b.shu // $div) % 65536"
      }.mkString(" OR ")
      s"""WITH $simhashCteSql
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND ($shareBand)
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // connected components in SQL: reach(node, r) enumerates every node r
    // reachable from node over the symmetric near-dup edge set (UNION, not
    // UNION ALL — the dedup is the fixpoint guarantee); cluster id = min
    // reachable node. Tractable because components are small; the Spark side
    // scales where this CTE cannot.
    "q101_dedup_clusters" ->
      s"""WITH RECURSIVE ds AS (
        |  SELECT doc_id, $wordSetSql ws FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM ds a JOIN ds b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT doc_id AS node, doc_id AS r FROM documents
        |  UNION
        |  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r),
        |cc AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)
        |SELECT doc_id, cluster_id, count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM cc ORDER BY doc_id""".stripMargin,
    "q35_dedup_exact" ->
      """SELECT min(doc_id) AS rep_doc_id, count(*) AS group_size
        |FROM documents GROUP BY text ORDER BY rep_doc_id""".stripMargin,
    "q36_dedup_wordset" ->
      s"""SELECT min(doc_id) AS rep_doc_id, count(*) AS group_size,
        | CAST(len(ws) AS BIGINT) AS set_size
        |FROM (SELECT doc_id, $wordSetSql AS ws FROM documents)
        |GROUP BY ws ORDER BY rep_doc_id""".stripMargin,
    "q37_minhash_sigs" -> {
      val sigSelects = (0 until MinhashK).map { i =>
        s"list_min(list_transform(hs, h -> (${2L * i + 3}*h + ${7L * i + 1}) % ${P})) AS mh$i"
      }.mkString(",\n ")
      s"""SELECT doc_id, $sigSelects
         |FROM (SELECT doc_id, list_transform(list_distinct(string_split(text,' ')), w -> ${wordHashSql("w")}) AS hs
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "q71_ngram_jaccard" ->
      s"""WITH bs AS (
         |  SELECT doc_id, list_sort(list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))) AS bg
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         |  WHERE len(ws) >= 2)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | ${OracleMath.stableRoundSql("CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) / len(list_distinct(list_concat(a.bg, b.bg)))", 4)} AS jaccard
         |FROM bs a JOIN bs b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) / len(list_distinct(list_concat(a.bg, b.bg))) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    // MinHash-LSH pairs ARE oracle-expressible: the signature family already
    // hash-matches (q37), band collision is tuple equality on signature
    // slices (the Spark side compacts the tuple through xxhash64, which is
    // injective-in-practice — a collision could only ADD a candidate, which
    // must then still pass the exact-Jaccard verify), and the verify is the
    // same set-Jaccard as q38. So q39 moves from rows-check to hash-match.
    "q153_lsh_recall" -> {
      val k = LshBands * LshRows
      val mhDefs = (0 until k).map { i =>
        s"list_min(list_transform(hs, h -> (${2L * i + 3}*h + ${7L * i + 1}) % ${P})) AS mh$i"
      }.mkString(",\n ")
      // candidate CTE: one hash-joinable equi-join per band (UNION ALL with
      // a band tag) — the prior CROSS JOIN bands + CASE predicate forced a
      // quadratic nested loop in DuckDB, which dominated the sf0.1 sweep
      val bandJoins = (0 until LshBands).map { b =>
        val eq = (0 until LshRows)
          .map(r => s"a.mh${b * LshRows + r} = c.mh${b * LshRows + r}").mkString(" AND ")
        s"SELECT $b AS band, a.doc_id AS doc_a, c.doc_id AS doc_b\n" +
          s"  FROM sigs a JOIN sigs c ON $eq AND a.doc_id < c.doc_id"
      }.mkString("\n  UNION ALL\n  ")
      val jacF = "CAST(len(list_intersect(a.ws, c.ws)) AS DOUBLE) / len(list_distinct(list_concat(a.ws, c.ws)))"
      val jacS = "CAST(len(list_intersect(s.ws, u.ws)) AS DOUBLE) / len(list_distinct(list_concat(s.ws, u.ws)))"
      // exact-truth denominator: collapse identical word sets first (their
      // within-group pairs are jac=1 by definition), then pair DISTINCT sets
      // under a lossless integer length band — jac >= t forces
      // |A| >= t·|B| and |B| >= t·|A|; the 89/100 bound is t slightly
      // loosened so float wobble can only ADD candidate set-pairs, never
      // drop a true one (the final jac predicate decides membership)
      val lenBandPct = math.floor(NearDupThreshold * 100).toInt - 1
      s"""WITH ds AS (
         |  SELECT doc_id, $wordSetSql AS ws,
         |         list_transform(list_distinct(string_split(text,' ')), w -> ${wordHashSql("w")}) AS hs
         |  FROM documents),
         |sigs AS (SELECT doc_id, $mhDefs FROM ds),
         |bands AS (SELECT unnest(range(${LshBands})) AS band),
         |cand AS (
         |  $bandJoins),
         |pb AS (SELECT band, count(*) AS n_cand FROM cand GROUP BY 1),
         |fb AS (SELECT doc_a, doc_b, min(band) AS band FROM cand GROUP BY 1, 2),
         |fbj AS (SELECT fb.band, $jacF AS jac
         |        FROM fb JOIN ds a ON a.doc_id = fb.doc_a
         |                JOIN ds c ON c.doc_id = fb.doc_b),
         |nb AS (SELECT band, count(*) AS n_new,
         |         sum(CASE WHEN jac >= $NearDupThreshold THEN 1 ELSE 0 END) AS n_new_true
         |       FROM fbj GROUP BY 1),
         |sets AS (SELECT ws, count(*) AS m FROM ds GROUP BY ws),
         |tot AS (SELECT (SELECT coalesce(sum(m * (m - 1) // 2), 0) FROM sets)
         |             + (SELECT coalesce(sum(s.m * u.m), 0)
         |                FROM sets s JOIN sets u
         |                  ON s.ws < u.ws
         |                 AND 100 * len(s.ws) >= $lenBandPct * len(u.ws)
         |                 AND 100 * len(u.ws) >= $lenBandPct * len(s.ws)
         |                 AND $jacS >= $NearDupThreshold) AS n_true_total),
         |r AS (SELECT b.band AS band, coalesce(pb.n_cand, 0) AS n_cand,
         |        coalesce(nb.n_new, 0) AS n_new, coalesce(nb.n_new_true, 0) AS n_new_true
         |      FROM bands b LEFT JOIN pb USING (band) LEFT JOIN nb USING (band))
         |SELECT CAST(band AS BIGINT) AS band, CAST(n_cand AS BIGINT) AS n_cand,
         | CAST(n_new AS BIGINT) AS n_new, CAST(n_new_true AS BIGINT) AS n_new_true,
         | CAST(n_true_total AS BIGINT) AS n_true_total,
         | CAST(sum(n_new_true) OVER (ORDER BY band) AS BIGINT) AS cum_true,
         | ${OracleMath.stableRoundSql("CAST(sum(n_new_true) OVER (ORDER BY band) AS DOUBLE) / n_true_total", 6)} AS recall
         |FROM r, tot ORDER BY band""".stripMargin
    },
    "q39_lsh_neardup" -> lshPairsOracleSql,
    // the streaming banded sweep must converge to the SAME pair set as the
    // batch q39 (banding is deterministic; bucket-state OR across
    // microbatches is order-independent) — one oracle, two execution models
    "q170_stream_lsh_neardup" -> lshPairsOracleSql,
    "q142_delta_neardup" ->
      s"""SELECT d.doc_id AS doc_delta, c.doc_id AS doc_corpus,
        | ${OracleMath.stableRoundSql("CAST(len(list_intersect(d.ws, c.ws)) AS DOUBLE) / len(list_distinct(list_concat(d.ws, c.ws)))", 4)} AS jaccard
        |FROM (SELECT doc_id, $wordSetSql ws
        |      FROM documents WHERE doc_id % 5 = 0) d
        |JOIN (SELECT doc_id, $wordSetSql ws
        |      FROM documents WHERE doc_id % 5 <> 0) c
        |  ON CAST(len(list_intersect(d.ws, c.ws)) AS DOUBLE) / len(list_distinct(list_concat(d.ws, c.ws))) >= 0.9
        |ORDER BY doc_delta, doc_corpus""".stripMargin,
    "q38_neardup_jaccard" ->
      s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | ${OracleMath.stableRoundSql("CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / len(list_distinct(list_concat(a.ws, b.ws)))", 4)} AS jaccard
        |FROM (SELECT doc_id, $wordSetSql ws FROM documents) a
        |JOIN (SELECT doc_id, $wordSetSql ws FROM documents) b
        |  ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
