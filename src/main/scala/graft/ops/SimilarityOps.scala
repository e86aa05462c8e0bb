package graft.ops

import graft.ops.Caches.Tracked

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>[64]`) — brute-force cosine top-k as the exact baseline, an
  * LSH-bucketed variant as the scale path, embedding-cosine near-dup pairs,
  * and per-label centroids (the IVF coarse-quantizer building block).
  *
  * All vector math runs through the native codegen'd
  * [[graft.functions.DotProduct]] kernel — double precision, fixed
  * left-to-right fold, so DuckDB's sequential sums reproduce Spark's results
  * bit-for-bit while staying inside whole-stage codegen (the
  * higher-order-function formulation was ~20× slower: interpreted lambdas
  * per element).
  *
  * Scale notes: brute-force kNN is a broadcast of the query vector + one
  * narrow pass + TakeOrderedAndProject — embarrassingly parallel, the right
  * answer up to huge N for a single query. For query *batches* at 100 TB the
  * LSH/IVF path bounds candidates per query by bucket size; centroids give
  * the IVF partitioning.
  */
object SimilarityOps {
  import graft.functions.VectorFunctions.dotp
  import Banding.hamming

  /** cosine via the native [[graft.functions.DotProduct]] kernel (same
    * left-to-right double fold as the SQL oracle, codegen'd).
    */
  def cosine(a: Column, b: Column): Column =
    dotp(a, b) / (sqrt(dotp(a, a)) * sqrt(dotp(b, b)))

  /** Exact top-k nearest neighbours (cosine) of one query vector. The query
    * row is a 1-row broadcast crossJoin; plan = scan → project → topK.
    */
  def knnBruteForce(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === queryId).select(col("embedding").as("q_emb"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"),
        OracleMath.stableRound(cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }

  /** Embedding-cosine near-duplicate pairs (dedup by semantic similarity):
    * all pairs with cosine ≥ `threshold`. Exact; the N² pair space is fine at
    * this table's size — at 100 TB-scale embedding counts you'd gate it with
    * [[annBuckets]]-style blocking first (same verify step, smaller candidate
    * set).
    */
  def embeddingNearDup(spark: SparkSession, dir: String, threshold: Double = 0.35): DataFrame = {
    // threshold calibrated to the testdata: the synthetic embeddings have no
    // true duplicate pairs (max pairwise cosine ≈ 0.44), so 0.35 selects the
    // "most similar" tail — in a real corpus this is 0.9+.
    val e0 = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // Scale guard: past `MaxExactPairRows` vectors the exact N² pair space is
    // a cluster-killer, so the operator degrades to the banded ANN path
    // ([[annNearDupOn]] — identical verify math, recall bounded by the
    // banding S-curve). Below the cap (every test/oracle SF) the exact
    // all-pairs result is produced, so q42 stays the oracle-exact twin while
    // a 100 TB caller never runs the cartesian. The cap is a conf so specs
    // can force either path.
    val cap = spark.conf.getOption(ExactPairRowsConf).map(_.toLong)
      .getOrElse(DefaultMaxExactPairRows)
    // one count() job serves both the cap decision and (in the degrade path)
    // the ANN verify's broadcast byte-gate — threaded, not recomputed
    val nVectors = e0.count()
    if (nVectors > cap) return annNearDupOn(e0, threshold, Some(nVectors))
    // Norms are computed once per vector BEFORE the pair join (N sqrt+dot
    // instead of N² recomputation); the per-pair work is one codegen'd dot.
    val e = e0
      .select(col("vec_id"), col("embedding"), sqrt(dotp(col("embedding"), col("embedding"))).as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", dotp(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), OracleMath.stableRound(col("sim"), 6).as("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Random-hyperplane LSH signatures: bit i = sign(⟨v, g_i⟩) with
    * deterministic pseudo-random planes g_i[j] = frac((i·64+j)·φ) − 0.5
    * (Weyl sequence — reproducible without RNG state). Vectors in the same
    * bucket are ANN candidates; k-bit signatures → 2^k buckets.
    * Demonstrated as bucket histogram (rows-check; the bucketing is the
    * scale path for [[embeddingNearDup]]).
    */
  /** Deterministic pseudo-random hyperplane i: g_i[j] = frac((i·64+j+1)·φ) −
    * 0.5 (Weyl sequence — reproducible without RNG state, and inlinable as a
    * literal array in BOTH engines, which is what lets the LSH queries carry
    * full SQL oracles).
    */
  private[graft] def hyperplane(i: Int): IndexedSeq[Double] = {
    val phi = 0.6180339887498949
    (0 until 64).map { j => val x = (i * 64 + j + 1) * phi; x - math.floor(x) - 0.5 }
  }
  private def planeCol(i: Int): Column = array(hyperplane(i).map(lit): _*)

  /** The packed `nBits`-plane sign signature of `embedding`: bit i =
    * sign(⟨v, g_i⟩) over the Weyl planes [[hyperplane]] — q45's 8-bit
    * bucket and the 32-bit ANN band signature alike.
    */
  private def planeSignature(nBits: Int): Column =
    (0 until nBits).map { i =>
      when(dotp(col("embedding"), planeCol(i)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  def annBuckets(spark: SparkSession, dir: String, bits: Int = 8): DataFrame = {
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), planeSignature(bits).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("bucket"))
  }

  /** LSH banding parameters for [[annNearDup]]: 8 bands × 4 hyperplane bits.
    * Sign-agreement probability per bit is 1 − θ/π (θ = angle), so a
    * true-near-dup pair at cosine 0.9 (θ ≈ 26°, p ≈ 0.856) collides on a
    * 4-bit band with p⁴ ≈ 0.54 and is missed by all 8 bands with
    * probability 0.46⁸ ≈ 0.2% — recall ≈ 99.8% at the threshold the
    * operator exists for, while random pairs (p ≈ 0.5) pass a band only
    * 6% of the time, bounding candidates ≈ n²·(1−(1−1/16)⁸)/2 per skewless
    * bucket math but in practice by bucket-size² sums (the 100 TB path:
    * candidates come from 8 shuffles on 4-bit band keys, never an N² join).
    */
  val AnnBands = 8
  val AnnRowsPerBand = 4

  /** Session conf (row count) above which [[embeddingNearDup]] abandons the
    * exact all-pairs join for the banded ANN path.
    */
  val ExactPairRowsConf = "graft.sim.maxExactPairRows"

  /** 100k vectors → ≤ 5·10⁹ candidate pairs, the ceiling where exact
    * all-pairs is still a defensible batch job; far above every test SF.
    */
  val DefaultMaxExactPairRows: Long = 100000L

  /** ANN-gated embedding near-dup — the scale path for [[embeddingNearDup]]:
    * random-hyperplane band-OR blocking (any of 8 bands agreeing makes a
    * candidate) + the SAME exact cosine verify, so precision is exact and
    * recall is the banding S-curve above. Every arithmetic step (Weyl
    * planes, sign bits, band keys, cosine) is deterministic double math
    * reproducible in DuckDB, so unlike classic LSH sketches this query
    * carries a full hash-match oracle.
    */
  def annNearDup(spark: SparkSession, dir: String, threshold: Double = 0.35): DataFrame = {
    annNearDupOn(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), threshold)
  }

  /** Frame-parametric core of [[annNearDup]] (exposed for the recall spec,
    * which runs it over a synthetic corpus with known true near-dups).
    * `knownRowCount` lets a caller that already ran a count() job (the
    * [[embeddingNearDup]] cap gate) thread it through instead of paying a
    * second full-table job for the byte-gate estimate.
    *
    * `gate` = (sketch bits, max Hamming) arms the SRP Hamming prefilter:
    * every vector also gets the 16- or 64-bit packed sign sketch, the band
    * rows carry it (one extra long on the skinny shuffle), and candidate
    * pairs whose sketch Hamming distance exceeds the width are dropped
    * INSIDE the band join — before the dedup shuffle and the wide exact
    * verify. Without a `gate`, the overload below takes
    * [[srpAutoGate]]`(threshold)`, the cheapest sketch whose
    * output-preserving width still cuts: 64 bits at θ = 0.9 (q332), 16 bits
    * only at near-exact θ ≳ 0.9993 (q337), none at θ = 0.35 (q135's plan
    * carries no sketch). q319 passes `None` as the ungated control; q307
    * and q321 pass their calibrated constants.
    */
  private[graft] def annNearDupOn(e0: DataFrame, threshold: Double,
      knownRowCount: Option[Long], gate: Option[(Int, Int)]): DataFrame = {
    // signature + norm computed once per vector; persisted: band explode and
    // both verify sides would re-derive 32 dot products per vector each
    val signed = withBandSignature(e0)
    val e = (gate match {
      case Some((64, _)) => withSrpSketch64(signed)
      case Some((16, _)) => withSrpSketch(signed)
      case Some((bits, _)) => throw new IllegalArgumentException(s"no $bits-bit SRP sketch (16 or 64)")
      case None => signed
    }).persistTracked()
    // band keys: 4-bit slices of the signature; candidates share any band.
    // The join moves three longs per row (8 rows per vector), never vectors.
    val banded = explodeBands(e, gate.map(_ => "srp").toSeq)
    val joinCond = gate match {
      case Some((_, maxH)) => selfBandCond && hamming(col("a.srp"), col("b.srp")) <= lit(maxH)
      case None => selfBandCond
    }
    val cands = banded.as("a").join(banded.as("b"), joinCond)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // exact verify — identical math to [[embeddingNearDup]], so verified
    // pairs are a (recall-bounded) subset of the exact query's output.
    // The vector sides go through the operator broadcast gate
    // ([[Joins.broadcastIfFits]]): small table → broadcast
    // (no shuffle of the candidate multiset); past the byte gate → shuffle
    // hash join on vec_id, whose volume scales with the candidate count —
    // never the 8 GB broadcast wall at 100× vector counts.
    val estBytes = knownRowCount.getOrElse(e.count()) * VecRowBytes
    val va = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val vb = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    cands.join(Joins.broadcastIfFits(va, estBytes), "id_a")
      .join(Joins.broadcastIfFits(vb, estBytes), "id_b")
      .withColumn("sim", dotp(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), OracleMath.stableRound(col("sim"), 6).as("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** [[annNearDupOn]] gated by [[srpAutoGate]]`(threshold)`. */
  private[graft] def annNearDupOn(e0: DataFrame, threshold: Double,
      knownRowCount: Option[Long] = None): DataFrame =
    annNearDupOn(e0, threshold, knownRowCount, srpAutoGate(threshold))

  /** Estimated in-memory bytes of one (vec_id, embedding, nrm) verify-side
    * row: 64 float dims + row overhead.
    */
  private val VecRowBytes = 64L * 4L + 64L

  /** The self-join band condition: two band rows agree on (band key, band
    * value), ordered ids so each unordered pair is probed once.
    */
  private def selfBandCond: Column =
    col("a.bk") === col("b.bk") && col("a.bv") === col("b.bv") &&
      col("a.vec_id") < col("b.vec_id")

  /** Semantic dedup clusters — the embedding-space analog of
    * [[graft.ops.DedupOps.dedupClusters]]: connected components over the
    * ANN-gated verified pair set ([[annNearDup]]'s edges — band-OR blocking,
    * exact cosine verify), one canonical representative (the min vec_id) per
    * cluster, closed by [[DedupOps.components]] — the full "semantic
    * dedup" pipeline a training-data curator actually runs: block → verify
    * → cluster → keep one per cluster.
    *
    * Scale shape: edges come from 8 band-key shuffles (never an N² join),
    * so the CC input is the pair graph, whose size the banding already
    * bounded. The oracle replays the banding arithmetic as SQL
    * (deterministic Weyl planes) and closes it with a recursive CTE — the
    * embedding graph is pair-bounded, so unlike q101 it runs at every SF.
    */
  def semanticClusters(spark: SparkSession, dir: String, threshold: Double = 0.35): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = annNearDupOn(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), threshold)
    val nodes = Tables.embeddings(spark, dir).select(col("vec_id").as("doc_id")).distinct()
    DedupOps.components(nodes, pairs)
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** q338 — the SAME semantic clustering as q149, built INCREMENTALLY
    * ([[DedupOps.incrementalCC]]): the even-id half of the corpus is
    * "yesterday" (its pairs solved to labels), the odd ids arrive as
    * "today", and only the DELTA edges (any pair touching an odd id) are
    * contracted onto yesterday's label space and solved — yesterday's
    * edge set is never revisited. Output hash-matches q149's FULL-
    * recompute oracle verbatim: the incremental build is provably
    * invisible. This is the nightly-dedup shape at 100 TB — the full pair
    * graph is billions of edges, the daily delta is bounded by the
    * arriving batch, and the remap is one join against the label table.
    */
  def semanticClustersIncremental(spark: SparkSession, dir: String,
      threshold: Double = 0.35): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def even(c: Column): Column = c % 2 === 0
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"))
    val newNodes = emb.filter(!even(col("vec_id"))).select(col("vec_id").as("doc_id")).distinct()
    // yesterday's labels are READ from the persisted nightly table, not
    // re-solved per run (r12 verdict #3: a production nightly never revisits
    // yesterday's edge set — q339 already reads stored labels; q338 now does
    // too, paying the even-half solve exactly once per corpus generation)
    val oldLabels = ensureYesterdayLabels(spark, dir, threshold)
    val deltaPairs = annNearDupOn(
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .filter(!(even(col("doc_a")) && even(col("doc_b"))))
    val labels = DedupOps.incrementalCC(oldLabels, newNodes, deltaPairs)
    labels.select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** Build-or-read the persisted "yesterday" cluster-label table for
    * [[semanticClustersIncremental]]: the even-id half of `dir`'s corpus
    * solved to CC labels ONCE per corpus generation and stored as parquet,
    * a stored artifact of [[Staging.ensureAndRead]] (rebuilt when the
    * embeddings change; the build and the read both hold the lock, because
    * `spark.read.parquet` captures the file listing eagerly). The kind
    * carries the threshold and [[bandIndexConstantsFp]]: the labels are
    * solved over [[annNearDupOn]]'s banding, so a sketch-constant change
    * must invalidate them exactly as it invalidates the band indexes. First
    * build: band the even half against itself and solve with
    * [[DedupOps.components]], whose labels come back cut from the pair
    * lineage, so the parquet write that materializes them never re-runs the
    * banding (the r12 lesson). Every later run is a single parquet read —
    * the shape a scheduled nightly actually has, where yesterday's labels
    * are yesterday's OUTPUT.
    */
  private def ensureYesterdayLabels(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val thr = threshold.toString.replaceAll("[^0-9]", "_")
    Staging.ensureAndRead(spark, s"ylab_${thr}_$bandIndexConstantsFp", dir,
        Seq("embeddings"), Seq("labels")) { base =>
      def even(c: Column): Column = c % 2 === 0
      val evens = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")).filter(even(col("vec_id")))
      val oldNodes = evens.select(col("vec_id").as("doc_id")).distinct()
      DedupOps.components(oldNodes, annNearDupOn(evens, threshold))
        .write.parquet(base + "/labels")
    }(base => spark.read.parquet(base + "/labels"))
  }

  /** q341 — the incremental step COMPOSES across nights: two consecutive
    * daily deltas applied through [[DedupOps.incrementalCC]] produce the
    * same clustering as one full recompute (the oracle is q149's
    * recursive-CTE twin, verbatim). Day 0 = even ids, read from the SAME
    * persisted label table q338 uses; day 1 ingests ids ≡ 1 (mod 4) — its
    * delta is every pair touching a day-1 id with both endpoints already
    * arrived; day 2 ingests ids ≡ 3 (mod 4) — every remaining pair. The
    * three pair sets partition the full pair graph (even-even pairs were
    * solved into day 0's stored labels), so hash-equality proves the
    * associativity a real nightly pipeline silently relies on: labels
    * carried through N incremental nights never drift from the full
    * truth. Day 1's output is materialized before day 2 starts (the
    * nightly contract — each night reads the previous night's WRITTEN
    * table), keeping the composition honest and the second contraction's
    * input label-minimal as [[DedupOps.incrementalCC]] requires.
    */
  def semanticClustersTwoDay(spark: SparkSession, dir: String,
      threshold: Double = 0.35): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"))
    val l0 = ensureYesterdayLabels(spark, dir, threshold)
    // persist (reps re-read the verified pair set through the cache) AND
    // localCheckpoint (r14): the pair set feeds BOTH days' contractions, so
    // five downstream actions used to re-ANALYZE the whole banding+verify
    // tree (~0.1-0.3 s of driver planning each on a plan this wide) — the
    // eager cut replaces that with one cache-read job and makes every
    // downstream plan delta-sized.
    val pairs0 = annNearDupOn(
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .persistTracked()
    val pairs = pairs0.checkpointTracked()
    def m4(c: Column, r: Int): Column = c % 4 === r
    def arrivedByDay1(c: Column): Column = c % 2 === 0 || m4(c, 1)
    val d1Pairs = pairs.filter(
      (m4(col("doc_a"), 1) || m4(col("doc_b"), 1)) &&
        arrivedByDay1(col("doc_a")) && arrivedByDay1(col("doc_b")))
    val d2Pairs = pairs.filter(m4(col("doc_a"), 3) || m4(col("doc_b"), 3))
    val n1 = emb.filter(m4(col("vec_id"), 1)).select(col("vec_id").as("doc_id")).distinct()
    val n2 = emb.filter(m4(col("vec_id"), 3)).select(col("vec_id").as("doc_id")).distinct()
    val l1 = DedupOps.incrementalCC(l0, n1, d1Pairs).checkpointTracked()
    val l2 = try DedupOps.incrementalCC(l1, n2, d2Pairs)
      finally pairs0.unpersist()
    l2.select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** Neighbors counted per query in [[bandIndexRecall]] — same k as
    * [[RetrievalOps.IvfK]] so the two index families' recall numbers are
    * directly comparable.
    */
  val BandRecallK = 10

  /** q344 — measured recall@k of the SRP BAND index (the candidate
    * generator behind q343's k-NN and every stored-index probe) against
    * the exact brute-force top-k, over the SAME held-out eval slice q161
    * uses for IVF recall — completing the recall-instrumentation matrix
    * (q153: LSH bands on documents; q161/q276: IVF lists; q344: SRP
    * bands). This is the number that says whether the 8×8-bit banding is
    * adequate as a k-NN candidate source BEFORE trusting q343 at 100 TB —
    * the threshold probes' oracles prove candidate-set EQUALITY, but only
    * a recall audit says how much of the true neighborhood the candidates
    * cover.
    *
    * Plan shape: band candidates from 8 band-key equi-joins (never
    * query × train), exact re-rank joins candidates only; the exact side
    * is a broadcast-nested-loop over train by declared role (ground truth
    * over a 5 % sampled query workload — exactly how production recall
    * audits run). Both top-k sets rank by (6-dp-rounded cosine, vec_id),
    * so sets, not just scores, are engine-identical.
    *
    * Measured at sf0.1: mean recall@10 = 0.615 (min 0.2), ~760 candidates
    * per query — the verdict the audit exists to deliver: the SRP banding
    * is a strong candidate source in the ≥ 0.9 dup regime it was
    * calibrated for (the threshold probes' oracles prove exact pair-set
    * equality there), and measurably NOT sufficient as a general
    * low-similarity k-NN index — q343's "top-k among candidates" contract
    * is the honest one, and a recall-critical deployment should raise
    * bands/bits or fall back to IVF (q161: same workload, directly
    * comparable numbers).
    */
  def bandIndexRecall(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val qsk = withBandSignature(e.filter(RetrievalOps.isEval))
    val trn = withBandSignature(e.filter(!RetrievalOps.isEval)).persistTracked()
    val qBands = explodeBands(qsk, Seq.empty)
      .select(col("vec_id").as("q_id"), col("bk"), col("bv"))
    val tBands = explodeBands(trn, Seq.empty)
      .select(col("vec_id"), col("bk"), col("bv"))
    val cand = qBands.join(tBands, Seq("bk", "bv"))
      .select(col("q_id"), col("vec_id"))
      .dropDuplicates("q_id", "vec_id")
    val qv = qsk.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val tv = trn.select(col("vec_id"), col("embedding"), col("nrm"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
    val bandTop = cand.join(qv, "q_id").join(tv, "vec_id")
      .select(col("q_id"), col("vec_id"), OracleMath.stableRound(
        dotp(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")), 6).as("sim"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= BandRecallK).select(col("q_id"), col("vec_id"))
    val nCand = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_candidates"))
    val exactTop = tv.crossJoin(broadcast(qv))
      .select(col("q_id"), col("vec_id"), OracleMath.stableRound(
        dotp(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")), 6).as("sim"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= BandRecallK).select(col("q_id"), col("vec_id"))
    val hits = exactTop.join(bandTop, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    qv.select(col("q_id"))
      .join(nCand, Seq("q_id"), "left")
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        OracleMath.stableRound(coalesce(col("n_hits"), lit(0L)).cast("double") /
          lit(BandRecallK.toDouble), 4).as("recall"))
      .orderBy(col("q_id"))
  }

  /** Top-k per group via the custom [[graft.functions.TopKByScore]]
    * `TypedImperativeAggregate`: nearest neighbours of the query vector
    * within each label, WITHOUT a full sort — each partition keeps a size-k
    * buffer per group and partial-merges, vs row_number's shuffle-everything
    * + sort-per-group (the oracle computes it that way; results match).
    */
  def topkPerLabel(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === 0L).select(col("embedding").as("q_emb"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0L)
      .select(col("label"), col("vec_id"), OracleMath.stableRound(cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .groupBy(col("label"))
      .agg(graft.functions.VectorFunctions.topk(col("sim"), col("vec_id"), k).as("top"))
      .select(col("label"), posexplode(col("top")).as(Seq("rank", "vec_id")))
      .withColumn("rank", col("rank").cast("long") + 1)
      .select(col("label"), col("rank"), col("vec_id"))
      .orderBy(col("label"), col("rank"))
  }

  /** Per-label centroids (IVF coarse quantizer / class prototypes):
    * posexplode the vector, average per (label, dim). One shuffle on
    * (label, dim) — 640 cells regardless of N.
    */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(round(avg(col("v").cast("double")), 6).as("centroid"))
      .orderBy(col("label"), col("dim"))

  /** IVF-style coarse assignment: each vector goes to its highest-cosine
    * label centroid. The centroid table is tiny (10 rows) and broadcast; the
    * per-vector argmax is a window over 10 candidate rows — this is the
    * partition-then-search-within-cell structure that makes ANN sub-linear
    * at 100 TB (probe only the assigned cell ± neighbors). Output also
    * scores the assignment against the true label.
    */
  /** The IVF coarse-quantizer codebook: one centroid vector per label.
    * Stable-rounded components: Spark's parallel avg and the oracle's
    * sequential avg differ in last ulps; rounding at 1e-8 makes every
    * downstream sim computation start from identical doubles.
    */
  private[ops] def centroidTable(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label").as("c_label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("c_label"), col("dim"))
      .agg(OracleMath.stableRound(avg(col("v").cast("double")), 8).as("cv"))
      .groupBy(col("c_label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("pairs"))
      .select(col("c_label"), transform(col("pairs"), p => p.getField("cv")).as("centroid"))

  /** Every vector's nearest-centroid assignment (vec_id, label, assigned). */
  private[ops] def assignTable(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.embeddings(spark, dir)
      .crossJoin(broadcast(centroidTable(spark, dir)))
      .select(col("vec_id"), col("label"), col("c_label"),
        OracleMath.stableRound(cosine(col("embedding"), col("centroid")), 6).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(desc("sim"), col("c_label"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("c_label").as("assigned"))
  }

  def ivfAssign(spark: SparkSession, dir: String): DataFrame = {
    assignTable(spark, dir)
      .select(col("vec_id"), col("assigned"), col("label"),
        (col("assigned") === col("label")).as("correct"))
      .orderBy(col("vec_id"))
  }

  /** IVF-probed approximate kNN — the full sub-linear ANN search: score the
    * query against the 10-entry codebook, probe only the `nprobe`
    * highest-scoring cells, then run exact cosine top-k INSIDE the probed
    * cells. At 100 TB the cell assignment is the storage partition key, so
    * the scan touches nprobe/ncells of the data; everything downstream of
    * the probe decision is [[knnBruteForce]] on the shrunken candidate set.
    * Deterministic (stable-rounded sims, label tie-breaks) ⇒ full SQL twin,
    * unlike sketch-based ANN.
    */
  def ivfKnn(spark: SparkSession, dir: String, queryId: Long = 0L,
             k: Int = 10, nprobe: Int = 3): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === queryId).select(col("embedding").as("q_emb"))
    // arg order (float, double): the kernel's supported type-cases; per-index
    // products commute, so this equals the oracle's centroid-first form
    val probed = centroidTable(spark, dir).crossJoin(broadcast(q))
      .select(col("c_label"),
        OracleMath.stableRound(cosine(col("q_emb"), col("centroid")), 6).as("csim"))
      .orderBy(desc("csim"), col("c_label")).limit(nprobe)
      .select(col("c_label").as("probe_label"))
    e.join(assignTable(spark, dir).select(col("vec_id"), col("assigned")), "vec_id")
      .join(probed, col("assigned") === col("probe_label"), "left_semi")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        OracleMath.stableRound(cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }

  /** The higher-order-function array surface in one query: `transform`,
    * `filter`, `aggregate`, `zip_with` and `reverse` over the embedding
    * column — per-vector dimensionality, positive-component count, L2 norm
    * and a zipped self-product (dot with the reversed vector). This is the
    * declarative API a user reaches for first; the scaladoc on
    * [[graft.functions.DotProduct]] records why hot loops use the codegen
    * kernel instead (interpreted lambdas are 20-30× slower) — both surfaces
    * belong to the library, and this query keeps the HOF one oracle-covered.
    * Fold order is fixed left-to-right in both engines, so double sums are
    * bit-identical.
    */
  def vectorProfile(spark: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    val sumSq = aggregate(transform(e, x => x.cast("double") * x.cast("double")), lit(0.0), _ + _)
    val revDot = aggregate(
      zip_with(e, reverse(e), (a, b) => a.cast("double") * b.cast("double")),
      lit(0.0), _ + _)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        size(e).cast("long").as("dim"),
        size(filter(e, x => x > lit(0.0))).cast("long").as("n_pos"),
        OracleMath.stableRound(sqrt(sumSq), 6).as("l2"),
        OracleMath.stableRound(revDot, 6).as("rev_dot"))
      .orderBy(col("vec_id"))
  }

  /** Scalar (int8) quantization of the embedding column — the compression
    * step before ANN indexing at 100 TB (4× smaller vectors, cache-resident
    * probes): per-vector min/max affine map onto 0..255, plus the mean
    * absolute reconstruction error as the quality metric. Pure per-row array
    * math (no shuffle); all arithmetic in doubles with a fixed fold order so
    * the oracle reproduces every bit. The `greatest(…, 1e-12)` guard keeps a
    * constant vector (mx == mn) from dividing by zero — same guard in the
    * SQL twin.
    */
  def scalarQuantize(spark: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    val mn = array_min(e).cast("double")
    val mx = array_max(e).cast("double")
    val scale = greatest((mx - mn) / lit(255.0), lit(1e-12))
    val codes = transform(e, x => floor((x.cast("double") - mn) / scale + lit(0.5)).cast("long"))
    val absErr = zip_with(e, codes, (x, c) => abs(x.cast("double") - (mn + c.cast("double") * scale)))
    val meanErr = aggregate(absErr, lit(0.0), _ + _) / size(e).cast("double")
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        OracleMath.stableRound(mn, 6).as("qmin"),
        OracleMath.stableRound(mx, 6).as("qmax"),
        element_at(codes, 1).as("code0"),
        OracleMath.stableRound(meanErr, 8).as("mean_abs_err"))
      .orderBy(col("vec_id"))
  }

  /** Product quantization (PQ) codes — the second quantization tier of an
    * ANN index (IVF partitions the corpus, PQ compresses the residuals/
    * vectors INSIDE each cell): split each 64-dim embedding into M=4
    * 16-dim subvectors; per subspace, a small codebook (per-label subvector
    * centroids — the deterministic stand-in for k-means, the same device as
    * the IVF coarse codebook in [[ivfAssign]]); each subvector encodes as
    * its L2-nearest codeword. 64×4 B of floats become 4 small codes; at
    * 100 TB this is what makes billion-vector search RAM-resident, and
    * distance evaluation against a query becomes 4 table lookups (ADC).
    *
    * Plan shape: codebook is (labels × M) rows → broadcast; assignment is a
    * per-(vector, subspace) argmin window over ≤ 10 candidates; one final
    * pivot back to a row per vector. Everything before the argmin shuffle is
    * map-side.
    */
  private val PqM = 4
  private val PqSub = 64 / PqM

  /** Per-(vec, subspace) slices: (vec_id, label, s, subvec). */
  private def pqSubvectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        explode(sequence(lit(0), lit(PqM - 1))).as("s"), col("embedding"))
      .withColumn("subvec", expr(s"slice(embedding, s * $PqSub + 1, $PqSub)"))

  /** Per-subspace codebook: (c_label, cb_s, cvec) — label-centroid subvectors. */
  private def pqCodebook(spark: SparkSession, dir: String): DataFrame =
    pqSubvectors(spark, dir)
      .select(col("label").as("c_label"), col("s"), posexplode(col("subvec")).as(Seq("d", "v")))
      .groupBy(col("c_label"), col("s"), col("d"))
      .agg(OracleMath.stableRound(avg(col("v").cast("double")), 8).as("cv"))
      .groupBy(col("c_label"), col("s"))
      .agg(array_sort(collect_list(struct(col("d"), col("cv")))).as("pairs"))
      .select(col("c_label"), col("s").as("cb_s"),
        transform(col("pairs"), p => p.getField("cv")).as("cvec"))

  /** Rounded squared L2 between `subvec` and the joined codeword `cvec`,
    * via the codegen'd [[graft.functions.SquaredDistance]] kernel — same
    * left-to-right fold as the HOF formulation (bit-identical, the PQ
    * argmin and the oracle see the same doubles) without per-element
    * interpreted lambdas on the (vectors × codewords) hot path.
    */
  private def pqDist2: Column = OracleMath.stableRound(
    graft.functions.VectorFunctions.dist2(col("subvec"), col("cvec")), 6)

  /** Winning codeword per (vec, subspace): (vec_id, s, c_label, dist2). */
  private def pqAssignments(spark: SparkSession, dir: String): DataFrame = {
    val scored = pqSubvectors(spark, dir)
      .join(broadcast(pqCodebook(spark, dir)), col("s") === col("cb_s"))
      .select(col("vec_id"), col("s"), col("c_label"), pqDist2.as("dist2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("s")).orderBy(col("dist2"), col("c_label"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  private def pick(s: Int, c: Column): Column = max(when(col("s") === s, c))

  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    pqAssignments(spark, dir).groupBy(col("vec_id"))
      .agg(
        pick(0, col("c_label")).cast("long").as("c0"),
        pick(1, col("c_label")).cast("long").as("c1"),
        pick(2, col("c_label")).cast("long").as("c2"),
        pick(3, col("c_label")).cast("long").as("c3"),
        // fixed-order sum of the four already-rounded distances (an agg-sum
        // over the 4 rows would re-associate across engines)
        OracleMath.stableRound(
          pick(0, col("dist2")) + pick(1, col("dist2"))
            + pick(2, col("dist2")) + pick(3, col("dist2")), 6).as("err"))
      .orderBy(col("vec_id"))
  }

  /** PQ asymmetric-distance (ADC) approximate kNN — how a PQ index is
    * actually queried: precompute, per subspace, the distance from the
    * query's subvector to every codeword (M × |codebook| = 40 numbers — the
    * "distance tables"), then every database vector's approximate distance
    * is just M table lookups summed over its stored codes. No float vectors
    * are touched at query time; at 100 TB the codes + tables are the only
    * thing in RAM. The lookup join is a broadcast of the 40-row table
    * against the code stream; exact re-ranking of the top candidates (as
    * [[ivfKnn]] does inside probed cells) is the standard refinement and is
    * intentionally left out so the query demonstrates the pure-ADC path.
    */
  def pqAdcKnn(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val qdt = pqSubvectors(spark, dir)
      .filter(col("vec_id") === queryId)
      .join(broadcast(pqCodebook(spark, dir)), col("s") === col("cb_s"))
      .select(col("s").as("q_s"), col("c_label").as("q_label"), pqDist2.as("qd"))
    pqAssignments(spark, dir)
      .join(broadcast(qdt), col("s") === col("q_s") && col("c_label") === col("q_label"))
      .groupBy(col("vec_id"))
      .agg(OracleMath.stableRound(
        pick(0, col("qd")) + pick(1, col("qd"))
          + pick(2, col("qd")) + pick(3, col("qd")), 6).as("adist"))
      .filter(col("vec_id") =!= queryId)
      .orderBy(col("adist"), col("vec_id"))
      .limit(k)
  }

  /** The `spark.sql` entry point exercised end-to-end: temp views + the
    * graft codegen kernels by their SQL names (`graft_dot` here, bound by
    * [[graft.GraftExtensions.install]]), window ranking written in SQL text
    * — the surface a SQL-first user of the library sees. Top-3 vectors by
    * L2 norm per label;
    * the rounding expression is the SAME string on both engines
    * ([[OracleMath.stableRoundSql]] is valid Spark SQL and DuckDB SQL).
    */
  def sqlSurfaceTopNorms(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.install(spark)
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings_v")
    spark.sql(
      s"""SELECT label, vec_id, rnk, l2
         |FROM (SELECT label, vec_id,
         |             CAST(row_number() OVER (PARTITION BY label ORDER BY l2 DESC, vec_id) AS BIGINT) AS rnk,
         |             l2
         |      FROM (SELECT label, vec_id,
         |                   ${OracleMath.stableRoundSql("sqrt(graft_dot(embedding, embedding))", 6)} AS l2
         |            FROM embeddings_v))
         |WHERE rnk <= 3 ORDER BY label, rnk""".stripMargin)
  }

  // ---------------------------------------------------------------------------

  /** The label-mean-centroid and nearest-centroid-assignment CTEs, shared
    * verbatim by the q76 and q161 oracle twins (single-sourced so the IVF
    * index definition cannot drift between its consumer queries).
    */
  private[ops] def centCteSql: String =
    s"""cent AS (
       |  SELECT c_label, list(cv ORDER BY dim) AS centroid FROM (
       |    SELECT label AS c_label, i - 1 AS dim,
       |      ${OracleMath.stableRoundSql("avg(CAST(embedding[i] AS DOUBLE))", 8)} AS cv
       |    FROM embeddings, generate_series(1, 64) t(i) GROUP BY 1, 2)
       |  GROUP BY 1)""".stripMargin

  private[ops] def assignCteSql: String =
    s"""assign AS (
       |  SELECT vec_id, c_label AS assigned FROM (
       |    SELECT s.*, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rn
       |    FROM (SELECT e.vec_id, c.c_label,
       |            ${OracleMath.stableRoundSql(cosSql("e.embedding", "c.centroid"), 6)} AS sim
       |          FROM embeddings e, cent c) s)
       |  WHERE rn = 1)""".stripMargin

  private[ops] def cosSql(a: String, b: String): String = {
    def dotS(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1,64), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
    s"${dotS(a, b)} / (sqrt(${dotS(a, a)}) * sqrt(${dotS(b, b)}))"
  }

  /** Hyperplane i as a DuckDB literal list (Double.toString round-trips the
    * exact IEEE value, so both engines dot against identical planes).
    */
  private def planeSql(i: Int): String =
    hyperplane(i).map(_.toString).mkString("[", ", ", "]")

  /** `1 << i` when the sign bit of ⟨embedding, plane_i⟩ is set, else 0. */
  private def sigBitSql(i: Int, weight: Long): String =
    s"(CASE WHEN list_sum(list_transform(generate_series(1,64), j -> CAST(embedding[j] AS DOUBLE) * (${planeSql(i)})[j])) > 0 THEN $weight ELSE 0 END)"

  /** Per-band 4-bit key columns bv0..bv7 (shared by q135/q149 twins). */
  private def annBandColsSql: String = (0 until AnnBands).map { b =>
    val v = (0 until AnnRowsPerBand)
      .map(r => sigBitSql(b * AnnRowsPerBand + r, 1L << r)).mkString(" + ")
    s"CAST($v AS BIGINT) AS bv$b"
  }.mkString(",\n ")

  /** Band-OR candidate pairs as one hash-joinable equi-join per band,
    * UNION-deduped (shared by q135/q149 twins).
    */
  private def annCandSql: String = {
    val unions = (0 until AnnBands).map { b =>
      s"SELECT a.vec_id AS id_a, b.vec_id AS id_b\n" +
        s"  FROM sigs a JOIN sigs b ON a.bv$b = b.bv$b AND a.vec_id < b.vec_id"
    }.mkString("\n  UNION\n  ")
    s"cand AS (\n  $unions)"
  }

  /** k-means configuration — single source for the Scala defaults AND the
    * q171 oracle twin. Centroid components are quantized to integer units of
    * 10⁻⁷ after every update step, which is what makes Lloyd's ITERATION
    * engine-identical: the mean's float sum is order-dependent (Spark's
    * parallel partials vs DuckDB's sequential scan), but `Σ floor(x·10⁷)`
    * is an exact integer in both, and the floor-divided mean re-enters the
    * next round as the identical double. The +10⁹ offset keeps every
    * operand positive so `DIV`/`//` (both truncating) agree with floor.
    */
  val KmK = 5
  val KmRounds = 3
  private[graft] val KmQ = 1.0e7
  private[graft] val KmOff = 1000000000L

  /** Lloyd's k-means over the embedding table — the ITERATIVE counterpart of
    * q43's one-shot label centroids: K seed vectors (vec_id 0..K−1 — a
    * deterministic stand-in for k-means++ at test scale), then
    * [[KmRounds]] × (assign → quantized-mean update), then a final
    * assignment emitting each vector's cluster and squared distance.
    *
    * Scale shape per round: the K×64 codebook broadcasts (a few KB at any
    * corpus size); assignment is one narrow pass with the codegen'd
    * [[graft.functions.SquaredDistance]] kernel + a K-row argmin window per
    * vector; the update is one shuffle of (cluster, dim, q) triples —
    * partial-aggregated map-side, so the shuffle moves K×64 rows per
    * partition, not the corpus. `localCheckpoint` truncates the per-round
    * lineage (the q169 / CC-loop pattern). Empty clusters keep their
    * previous centroid (left join + coalesce) — deterministic, no reseeding
    * randomness.
    */
  def kmeans(spark: SparkSession, dir: String, rounds: Int = KmRounds): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    var cents = v.filter(col("vec_id") < KmK)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), x => x.cast("double")).as("cent"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
    def assign(c: DataFrame): DataFrame = v.crossJoin(broadcast(c))
      .select(col("vec_id"), col("embedding"), col("cid"),
        graft.functions.VectorFunctions.dist2(col("embedding"), col("cent")).as("dist"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    for (_ <- 1 to rounds) {
      val upd = assign(cents)
        .select(col("cid"), posexplode(col("embedding")).as(Seq("dim0", "x")))
        .select(col("cid"), (col("dim0") + 1).cast("long").as("dim"),
          (floor(col("x").cast("double") * lit(KmQ)).cast("long") + lit(KmOff)).as("qo"))
        .groupBy(col("cid"), col("dim"))
        .agg(sum(col("qo")).as("sq"), count(lit(1)).as("n"))
        .select(col("cid"), col("dim"), (expr("sq DIV n") - lit(KmOff)).as("ci"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("dim"), col("ci")))).as("pairs"))
        .select(col("cid"),
          transform(col("pairs"), p => p.getField("ci").cast("double") / lit(KmQ))
            .as("cent2"))
      cents = cents.join(upd, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("cent2"), col("cent")).as("cent"))
        .checkpointTracked()
    }
    assign(cents)
      .select(col("vec_id"), col("cid").as("cluster"),
        OracleMath.stableRound(col("dist"), 6).as("dist_r"))
      .orderBy(col("vec_id"))
  }

  /** Squared-L2 between a float-list column and a double-list column — the
    * SQL twin of the `graft_dist2` kernel's left-to-right fold.
    */
  private def dist2Sql(e: String, c: String): String =
    s"list_sum(list_transform(generate_series(1,64), i -> (CAST($e[i] AS DOUBLE) - $c[i]) * (CAST($e[i] AS DOUBLE) - $c[i])))"

  /** Label-centroid affinity matrix — the domain-shift map: pairwise cosine
    * between every pair of per-label mean embeddings (the q43/q76 coarse
    * codebook, 1e-8-stable-rounded so both engines start from identical
    * doubles). The matrix is labels², computed on the 10-row centroid
    * table — constant cost at any corpus scale; the corpus pays exactly
    * the one centroid aggregation it already pays for IVF. High-affinity
    * label pairs are the merge/contamination candidates a taxonomy
    * curator reviews.
    */
  def labelAffinity(spark: SparkSession, dir: String): DataFrame = {
    val cent = centroidTable(spark, dir)
    cent.as("a").join(cent.as("b"), col("a.c_label") < col("b.c_label"))
      .select(col("a.c_label").as("label_a"), col("b.c_label").as("label_b"),
        OracleMath.stableRound(cosine(col("a.centroid"), col("b.centroid")), 6).as("sim"))
      .orderBy(col("label_a"), col("label_b"))
  }

  val labelAffinityOracle: String =
    s"""WITH $centCteSql
       |SELECT a.c_label AS label_a, b.c_label AS label_b,
       |  ${OracleMath.stableRoundSql(cosSql("a.centroid", "b.centroid"), 6)} AS sim
       |FROM cent a JOIN cent b ON a.c_label < b.c_label
       |ORDER BY label_a, label_b""".stripMargin

  /** Mutual nearest neighbors (reciprocal best match) — the entity-alignment
    * primitive: pairs where each vector is the OTHER's top-1 cosine
    * neighbor, a far stronger match signal than one-directional top-1 (the
    * standard filter for bitext mining / record linkage). Runs on a
    * deterministic id-subset (vec_id % [[MnnSubsetMod]] = 0) so the exact
    * all-pairs argmax stays oracle-priced; the 100 TB path swaps the pair
    * join for the q76 IVF candidate generation and keeps everything
    * downstream (per-side argmax + reciprocal self-join) unchanged.
    * Tie-breaks on (sim desc, id); the cosine is the codegen DotProduct
    * fold, bit-equal to the twin's sequential list_sum.
    */
  val MnnSubsetMod = 5L

  def mutualNearestNeighbors(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s0 = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % MnnSubsetMod === 0)
      .select(col("vec_id"), col("embedding"), col("label"))
    val a = s0.select(col("vec_id").as("ida"), col("embedding").as("ea"), col("label").as("la"))
    val b = s0.select(col("vec_id").as("idb"), col("embedding").as("eb"), col("label").as("lb"))
    val w = Window.partitionBy(col("ida")).orderBy(desc("sim"), col("idb"))
    val best = a.join(b, col("ida") =!= col("idb"))
      .withColumn("sim", cosine(col("ea"), col("eb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("ida"), col("idb"), col("sim"), col("la"), col("lb"))
    best.as("x").join(best.as("y"),
        col("x.ida") === col("y.idb") && col("x.idb") === col("y.ida")
          && col("x.ida") < col("x.idb"))
      .select(col("x.ida").as("vec_a"), col("x.idb").as("vec_b"),
        OracleMath.stableRound(col("x.sim"), 6).as("sim"),
        (col("x.la") === col("x.lb")).as("same_label"))
      .orderBy(col("vec_a"))
  }

  val mutualNearestNeighborsOracle: String =
    s"""WITH s AS (SELECT vec_id, embedding, label FROM embeddings
       |           WHERE vec_id % $MnnSubsetMod = 0),
       |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb, a.label AS la, b.label AS lb,
       |        ${cosSql("a.embedding", "b.embedding")} AS sim
       |      FROM s a JOIN s b ON a.vec_id <> b.vec_id),
       |best AS (SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY ida ORDER BY sim DESC, idb) AS rn
       |    FROM p) z WHERE rn = 1)
       |SELECT x.ida AS vec_a, x.idb AS vec_b,
       |  ${OracleMath.stableRoundSql("x.sim", 6)} AS sim,
       |  x.la = x.lb AS same_label
       |FROM best x JOIN best y ON x.ida = y.idb AND x.idb = y.ida AND x.ida < x.idb
       |ORDER BY vec_a""".stripMargin

  /** Per-dimension feature-scaling statistics over the embedding corpus —
    * the standardization pre-pass (mean/std per dim) every vector pipeline
    * runs before training or indexing. Cross-row float sums are the parity
    * trap here, so each component is QUANTIZED to integer micro-units
    * first (`floor(x·10⁶ + 0.5)` — the q171 quantize-then-sum discipline):
    * Σxq and Σxq² are exact integers, and mean/std are assembled per-dim
    * in one fixed double expression. One posexplode (64× amplification of
    * 12-byte rows) into a 64-key map-side-combined shuffle; the stats
    * table is dims-sized regardless of corpus scale.
    */
  def featureScaling(spark: SparkSession, dir: String): DataFrame = {
    val q = expr("CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)")
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), q.as("xq"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xq")).as("sx"),
        sum(col("xq") * col("xq")).as("sxx"),
        min(col("xq")).as("mnq"), max(col("xq")).as("mxq"))
      .select(col("dim"), col("n"),
        OracleMath.stableRound(
          col("sx").cast("double") / col("n").cast("double") / lit(1000000.0), 6).as("mean"),
        OracleMath.stableRound(
          sqrt((col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) /
            (col("n").cast("double") * col("n").cast("double"))) / lit(1000000.0), 6).as("std"),
        OracleMath.stableRound(col("mnq").cast("double") / lit(1000000.0), 6).as("min_v"),
        OracleMath.stableRound(col("mxq").cast("double") / lit(1000000.0), 6).as("max_v"))
      .orderBy(col("dim"))
  }

  val featureScalingOracle: String = {
    val mean = "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0"
    val std = "sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / 1000000.0"
    s"""WITH e AS (SELECT CAST(r.i AS BIGINT) AS dim,
       |    CAST(floor(CAST(embedding[CAST(r.i AS INT) + 1] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS xq
       |  FROM embeddings, (SELECT unnest(range(0, 64)) AS i) r),
       |s AS (SELECT dim, count(*) AS n, CAST(sum(xq) AS BIGINT) AS sx,
       |        CAST(sum(xq * xq) AS BIGINT) AS sxx,
       |        min(xq) AS mnq, max(xq) AS mxq
       |      FROM e GROUP BY 1)
       |SELECT dim, n,
       |  ${OracleMath.stableRoundSql(mean, 6)} AS mean,
       |  ${OracleMath.stableRoundSql(std, 6)} AS std,
       |  ${OracleMath.stableRoundSql("CAST(mnq AS DOUBLE) / 1000000.0", 6)} AS min_v,
       |  ${OracleMath.stableRoundSql("CAST(mxq AS DOUBLE) / 1000000.0", 6)} AS max_v
       |FROM s ORDER BY dim""".stripMargin
  }

  /** Per-label embedding DISPERSION — the representation-collapse audit an
    * embedding pipeline runs after (re)training an encoder: for each label,
    * `E‖x−μ‖² = E‖x‖² − ‖μ‖²` (the variance decomposition — no pairwise
    * join, ONE pass for the second moment and one dims-sized aggregate for
    * the centroid). A label whose dispersion collapses toward 0 has its
    * vectors folding onto a point (anisotropy/collapse); one whose
    * dispersion rivals its mean norm² carries no cluster structure.
    * Complements q43 (the centroid VECTORS) and q211 (per-dim corpus
    * stats) with the per-cluster spread scalar.
    *
    * Parity & scale: components quantize to integer micro-units (q171
    * discipline): `Σ‖xq‖²` folds row-locally into one BIGINT per row and
    * sums exactly per label (fits through ~10⁶ rows/label at this value
    * range; a web-scale corpus lifts the sum to DECIMAL(38,0) — same
    * shape); the centroid's `‖μ‖²` sums 64 per-dim terms, each one fixed
    * double expression on exact integers quantized to DECIMAL(18,6), so
    * the cross-dim sum is order-free. The per-dim shuffle is 64·|labels|
    * keys, map-side combined; nothing corpus-sized moves.
    */
  def labelDispersion(spark: SparkSession, dir: String): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val xq = expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
    val rowNorm2 = expr(
      "aggregate(transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)), " +
        "CAST(0 AS BIGINT), (acc, v) -> acc + v * v)")
    val e = Tables.embeddings(spark, dir)
    val mu = col("sd").cast("double") / col("n").cast("double") / lit(1000000.0)
    val cent = e.select(col("label"), posexplode(xq).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("v")).as("sd"), count(lit(1)).as("n"))
      .select(col("label"), OracleMath.stableRound(mu * mu, 6).cast(d6).as("t"))
      .groupBy(col("label")).agg(sum(col("t")).as("mu2"))
    val ex2 = col("srn2").cast("double") / (col("n").cast("double") * lit(1.0e12))
    e.select(col("label"), rowNorm2.as("rn2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("rn2")).as("srn2"))
      .join(broadcast(cent), "label")
      .select(col("label"), col("n"),
        OracleMath.stableRound(ex2, 6).as("mean_norm2"),
        OracleMath.stableRound(col("mu2").cast("double"), 6).as("centroid_norm2"),
        OracleMath.stableRound(ex2 - col("mu2").cast("double"), 6).as("dispersion"))
      .orderBy(col("label"))
  }

  val labelDispersionOracle: String = {
    val mu = "CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0"
    val ex2 = "CAST(srn2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0)"
    s"""WITH e AS (SELECT label,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xq
       |  FROM embeddings),
       |pd AS (SELECT label, CAST(r.i AS BIGINT) AS dim, xq[CAST(r.i AS INT) + 1] AS v
       |       FROM e, (SELECT unnest(range(0, 64)) AS i) r),
       |sd AS (SELECT label, dim, CAST(sum(v) AS BIGINT) AS sd, CAST(count(*) AS BIGINT) AS n
       |       FROM pd GROUP BY 1, 2),
       |cent AS (SELECT label,
       |    sum(CAST(${OracleMath.stableRoundSql(s"($mu) * ($mu)", 6)} AS DECIMAL(18,6))) AS mu2
       |  FROM sd GROUP BY 1),
       |nr AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT), xq), (acc, v) -> acc + v * v)) AS BIGINT) AS srn2
       |  FROM e GROUP BY 1)
       |SELECT label, n,
       |  ${OracleMath.stableRoundSql(ex2, 6)} AS mean_norm2,
       |  ${OracleMath.stableRoundSql("CAST(mu2 AS DOUBLE)", 6)} AS centroid_norm2,
       |  ${OracleMath.stableRoundSql(s"($ex2) - CAST(mu2 AS DOUBLE)", 6)} AS dispersion
       |FROM nr JOIN cent USING (label)
       |ORDER BY label""".stripMargin
  }

  /** Davies-Bouldin cluster-quality audit (quadratic-mean variant) — the
    * one-table answer to "are these labels real clusters in embedding
    * space?": for each label `i`, the scatter `s_i = √(E‖x−μᵢ‖²)` (the
    * quadratic-mean radius, from q269's exact dispersion sums), the
    * distance to every other centroid, and the Davies-Bouldin term
    * `DB_i = max_{j≠i} (s_i+s_j)/‖μᵢ−μⱼ‖` with the offending nearest
    * label — DB_i ≫ 1 means label i's cloud overlaps its neighbor (bad
    * separation / label noise); ≪ 1 means tight, well-separated clusters.
    *
    * Determinism: per-(label, dim) component sums are exact integers
    * (micro-unit quantization); per-dim centroid-difference terms and μ²
    * terms quantize to DECIMAL(18,6) before their exact cross-dim sums; the
    * final sqrt/divide/max runs on those exact values (ties in the max
    * break by label id). Scale shape: everything after the 64·|labels|-key
    * aggregate is a |labels|²-row broadcast-sized table.
    */
  def clusterQuality(spark: SparkSession, dir: String): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val xq = expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
    val rowNorm2 = expr(
      "aggregate(transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)), " +
        "CAST(0 AS BIGINT), (acc, v) -> acc + v * v)")
    val e = Tables.embeddings(spark, dir)
    // per-(label, dim) exact component sums -> 6-dp per-dim means
    val mu = e.select(col("label"), posexplode(xq).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("v")).as("sd"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        OracleMath.stableRound(
          col("sd").cast("double") / col("n").cast("double") / lit(1000000.0), 6)
          .cast(d6).as("m"))
    // scatter s_i = sqrt(E||x||^2 - ||mu||^2)  (q269's decomposition).
    // products of DECIMAL(18,6) means stay EXACT (scale 12) — no re-cast,
    // so neither engine's decimal rounding convention is in play
    val mu2 = mu.select(col("label"), (col("m") * col("m")).as("t"))
      .groupBy(col("label")).agg(sum(col("t")).as("mu2"))
    val disp = e.select(col("label"), rowNorm2.as("rn2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("rn2")).as("srn2"))
      .join(broadcast(mu2), "label")
      .select(col("label"),
        sqrt(col("srn2").cast("double") / (col("n").cast("double") * lit(1.0e12)) -
          col("mu2").cast("double")).as("s"))
    // pairwise centroid distances from per-dim difference terms
    val a = mu.select(col("label").as("la"), col("dim"), col("m").as("ma"))
    val b = mu.select(col("label").as("lb"), col("dim"), col("m").as("mb"))
    // the 6-dp difference is exact at DECIMAL(12,6); bounding the operand
    // precision keeps Spark's product rule (p1+p2+1) under 38 digits so the
    // scale-12 product stays EXACT (an unbounded (19,6)x(19,6) would widen
    // to 39 and silently truncate the scale)
    val d12 = org.apache.spark.sql.types.DecimalType(12, 6)
    val dist = a.join(broadcast(b), Seq("dim"))
      .filter(col("la") =!= col("lb"))
      .select(col("la"), col("lb"),
        ((col("ma") - col("mb")).cast(d12) * (col("ma") - col("mb")).cast(d12)).as("t"))
      .groupBy(col("la"), col("lb")).agg(sum(col("t")).as("d2"))
      .select(col("la"), col("lb"), sqrt(col("d2").cast("double")).as("d"))
    val sa = disp.select(col("label").as("la"), col("s").as("s_a"))
    val sb = disp.select(col("label").as("lb"), col("s").as("s_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("la")).orderBy(desc("db_term"), col("lb"))
    dist.join(broadcast(sa), "la").join(broadcast(sb), "lb")
      .select(col("la"), col("lb"), col("s_a"),
        ((col("s_a") + col("s_b")) / col("d")).as("db_term"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("la").as("label"),
        OracleMath.stableRound(col("s_a"), 6).as("scatter"),
        col("lb").as("nearest_label"),
        OracleMath.stableRound(col("db_term"), 6).as("db_index"))
      .orderBy(col("label"))
  }

  val clusterQualityOracle: String = {
    val s = "sqrt(CAST(srn2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0) - CAST(mu2 AS DOUBLE))"
    s"""WITH e AS (SELECT label,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xq
       |  FROM embeddings),
       |pd AS (SELECT label, CAST(r.i AS BIGINT) AS dim, xq[CAST(r.i AS INT) + 1] AS v
       |       FROM e, (SELECT unnest(range(0, 64)) AS i) r),
       |mu AS (SELECT label, dim,
       |         CAST(${OracleMath.stableRoundSql(
                  "CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0", 6)} AS DECIMAL(18,6)) AS m
       |       FROM pd GROUP BY 1, 2),
       |mu2 AS (SELECT label, sum(m * m) AS mu2 FROM mu GROUP BY 1),
       |disp AS (SELECT ee.label, $s AS sc FROM (
       |    SELECT label, CAST(count(*) AS BIGINT) AS n,
       |      CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT), xq), (acc, v) -> acc + v * v)) AS BIGINT) AS srn2
       |    FROM e GROUP BY 1) ee JOIN mu2 USING (label)),
       |dist AS (SELECT a.label AS la, b.label AS lb,
       |           sqrt(CAST(sum(CAST(a.m - b.m AS DECIMAL(12,6)) * CAST(a.m - b.m AS DECIMAL(12,6))) AS DOUBLE)) AS d
       |         FROM mu a JOIN mu b ON a.dim = b.dim AND a.label <> b.label
       |         GROUP BY 1, 2),
       |terms AS (SELECT la, lb, sa.sc AS s_a, (sa.sc + sb.sc) / d AS db_term
       |          FROM dist JOIN disp sa ON sa.label = la JOIN disp sb ON sb.label = lb),
       |best AS (SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY la ORDER BY db_term DESC, lb) AS rn
       |    FROM terms) z WHERE rn = 1)
       |SELECT la AS label,
       |  ${OracleMath.stableRoundSql("s_a", 6)} AS scatter,
       |  lb AS nearest_label,
       |  ${OracleMath.stableRoundSql("db_term", 6)} AS db_index
       |FROM best ORDER BY label""".stripMargin
  }

  /** Embedding near-dup THRESHOLD SENSITIVITY — the dial table for the q42
    * dedup: per candidate similarity threshold, the qualifying pair count,
    * the documents touched, and the size of the keep-lowest-id removal set
    * (every qualifying pair loses its higher id — a valid, deterministic
    * one-pass removal set: each pair has its `id_b` removed, so none
    * survives) with the corpus fraction that represents. Dedup thresholds
    * get argued about; this is the table the argument should read — at
    * 100 TB a 0.05 threshold shift can swing removals by whole percent.
    *
    * The pair space is computed ONCE at the loosest threshold (riding
    * q42's row-cap guard: exact below the cap, banded-ANN degrade above)
    * and exploded over the candidate thresholds; everything downstream is
    * count-distinct aggregates on id pairs. Thresholds compare against the
    * 6-dp-rounded similarity in BOTH engines.
    */
  val NearDupThresholds = Seq(0.30, 0.35, 0.40)

  def dedupThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    val pairs = embeddingNearDup(spark, dir, NearDupThresholds.min)
      .select(col("id_a"), col("id_b"), col("sim"))
    val total = Tables.embeddings(spark, dir).agg(count(lit(1)).as("n_vectors"))
    val x = pairs
      .select(col("id_a"), col("id_b"), col("sim"),
        explode(array(NearDupThresholds.map(lit): _*)).as("thr"))
      .filter(col("sim") >= col("thr"))
      .persistTracked()
    val st = x.groupBy(col("thr"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("id_b")).as("n_removed"))
    val aff = x.select(col("thr"), explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy(col("thr")).agg(countDistinct(col("id")).as("n_affected"))
    st.join(aff, Seq("thr")).crossJoin(total)
      .select(col("thr"), col("n_pairs"), col("n_affected"), col("n_removed"),
        col("n_vectors"),
        OracleMath.stableRound(
          col("n_removed").cast("double") / col("n_vectors").cast("double"), 6)
          .as("removal_frac"))
      .orderBy(col("thr"))
  }

  val dedupThresholdCurveOracle: String =
    s"""WITH p AS (SELECT * FROM (
       |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |      ${OracleMath.stableRoundSql(cosSql("a.embedding", "b.embedding"), 6)} AS sim
       |    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) z
       |  WHERE sim >= ${NearDupThresholds.min}),
       |x AS (SELECT id_a, id_b, sim, thr
       |      FROM p, (SELECT CAST(unnest([${NearDupThresholds.mkString(", ")}]) AS DOUBLE) AS thr)
       |      WHERE sim >= thr),
       |st AS (SELECT thr, CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(count(DISTINCT id_b) AS BIGINT) AS n_removed
       |       FROM x GROUP BY 1),
       |aff AS (SELECT thr, CAST(count(DISTINCT id) AS BIGINT) AS n_affected
       |        FROM (SELECT thr, unnest([id_a, id_b]) AS id FROM x) GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings)
       |SELECT thr, n_pairs, n_affected, n_removed, n_vectors,
       |  ${OracleMath.stableRoundSql(
          "CAST(n_removed AS DOUBLE) / CAST(n_vectors AS DOUBLE)", 6)} AS removal_frac
       |FROM st JOIN aff USING (thr), t ORDER BY thr""".stripMargin

  /** q293 PCA constants: per-component quantization scale (e4 — unit-norm
    * components, so centered values stay ≤ ~2·10⁴ and every 64×64 scatter
    * cell is ≤ ~10⁸·N, far inside BIGINT at bench SFs; the envelope is
    * N ≲ 10¹⁰ rows before the cell sums need DECIMAL(38,0)), the iteration
    * vector scale, and the fixed synchronous round count. The round count is
    * part of the query's DEFINITION (like q169's PageRank rounds): both
    * engines replay the identical trajectory, converged or not.
    */
  val PcaQuant = 10000L
  val PcaScale = 1000000L
  val PcaRounds = 6

  /** q293 — distributed PCA top component via exact integer sufficient
    * statistics + scaled-integer power iteration: how concentrated is the
    * embedding space? A top-eigenvalue share near 1 means the "64-dim"
    * embeddings are effectively 1-dimensional (a collapsed encoder, or a
    * dominant nuisance direction like document length) — the standard
    * representation-health check before trusting cosine similarity for
    * dedup/retrieval. Output: the dominant eigendirection (scaled-integer
    * components, sign fixed by the deterministic all-ones start) and the
    * top-1 explained-variance share.
    *
    * Why this shape at 100 TB: PCA over N rows needs exactly ONE pass of
    * per-row outer products into a 64×64 = 4096-cell aggregate (map-side
    * combined — the shuffle is 4096 cells × partitions regardless of N),
    * after which every iteration touches only the 4096-row matrix and a
    * 64-row vector. Nothing downstream of the scatter aggregate ever
    * rescans the data — the classic sufficient-statistics split. All
    * arithmetic is integer: components quantized at e4, means by truncating
    * division, the matrix renormalized by its max |cell| (denominator-side
    * division so no product ever exceeds ~10¹⁴), each round's matvec
    * renormalized the same way. The only floats are the three final
    * divisions of exact integers (Rayleigh numerator as DECIMAL(38,0) —
    * v·Sv reaches ~10¹⁹·64 — over den and trace), so the twin replays the
    * whole trajectory bit-for-bit.
    */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    val quantize = (x: Column) =>
      floor(x.cast("double") * lit(PcaQuant.toDouble) + lit(0.5)).cast("long")
    val rows = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), quantize).as("xq"))
    val sums = rows.select(posexplode(col("xq")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    val meansArr = sums
      .agg(sort_array(collect_list(struct(col("dim"),
        OracleMath.tdiv(col("sx"), col("n")).as("m")))).as("p"))
      .select(transform(col("p"), s => s.getField("m")).as("means"))
    // centered components: one 1-row broadcast, then purely row-local
    val centered = rows.crossJoin(meansArr)
      .select(zip_with(col("xq"), col("means"), (a, b) => a - b).as("c"))
    // scatter matrix S = Σ c·cᵀ: two chained generators streaming into the
    // hash aggregate — but S is symmetric, so only the upper triangle's
    // 2080 tuples per row are generated (slice from the outer position) and
    // the strict-lower half is mirrored from the 2080-cell aggregate
    val sUpper = centered
      .select(col("c"), posexplode(col("c")).as(Seq("i", "ci")))
      .select(col("i"), col("ci"),
        posexplode(slice(col("c"), col("i") + 1, lit(64) - col("i"))).as(Seq("dj", "cj")))
      .groupBy(col("i"), (col("i") + col("dj")).as("j"))
      .agg(sum(col("ci") * col("cj")).as("s"))
    val sMat = sUpper.unionAll(
      sUpper.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("s")))
    val smax = sMat.agg(max(abs(col("s"))).as("smax"))
    val sn = sMat.crossJoin(smax)
      .select(col("i"), col("j"),
        OracleMath.tdiv(col("s"),
          greatest(OracleMath.tdiv(col("smax"), lit(PcaScale)), lit(1L))).as("sn"))
      .persistTracked()
    var v = sums.select(col("dim").as("d"), lit(PcaScale).as("v"))
    // each round ends in a localCheckpoint: the 64-row state is trivially
    // cheap to pin, and WITHOUT it the lazily-composed trajectory re-embeds
    // the previous rounds' plans inside every max-renormalizer subquery —
    // measured 64 s vs 2.4 s for the checkpointed loop at sf0.1
    for (_ <- 1 to PcaRounds) {
      // w is checkpointed BEFORE its two consumers (r15, measured): the
      // max-renormalizer aggregate and the next-v projection are separate
      // ACTIONS, and exchange reuse does not span actions — every round
      // used to execute the whole matvec pipeline twice (jobtrace: two
      // parallel 3-stage jobs per round carrying ~80% of the query's
      // wall; same-session wall 2.56 s vs 3.6-6.3 s, controls quoted in
      // OPTIMIZATION_r15.md). An explicit broadcast(v) was ALSO tried and
      // REVERTED: it fanned the partial aggregate across the 32 cached sn
      // partitions (bytes 97 kB → 742 kB) and read slower than letting AQE
      // coalesce the tiny shuffle join.
      val w = sn.join(v, sn("j") === v("d"))
        .groupBy(col("i")).agg(sum(col("sn") * col("v")).as("w"))
        .checkpointTracked()
      val wmax = w.agg(max(abs(col("w"))).as("wmax"))
      v = w.crossJoin(wmax)
        .select(col("i").as("d"),
          OracleMath.tdiv(col("w"),
            greatest(OracleMath.tdiv(col("wmax"), lit(PcaScale)), lit(1L))).as("v"))
        .checkpointTracked()
    }
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val t1 = sn.join(v, sn("j") === v("d"))
      .groupBy(col("i")).agg(sum(col("sn") * col("v")).as("t1"))
    val metrics = t1.join(v, t1("i") === v("d"))
      .agg(sum(col("v").cast(d38) * col("t1").cast(d38)).as("num"),
        sum(col("v") * col("v")).as("den"))
    val trace = sn.filter(col("i") === col("j")).agg(sum(col("sn")).as("tr"))
    v.crossJoin(metrics).crossJoin(trace)
      .select(col("d").cast("long").as("dim"), col("v").as("eig_scaled"),
        OracleMath.stableRound(col("num").cast("double") / col("den").cast("double")
          / col("tr").cast("double"), 6).as("top1_share"))
      .orderBy(col("dim"))
  }

  /** The q293 twin — the identical integer trajectory, rounds unrolled as
    * CTEs (the q169/q289 oracle shape on the 4096-cell matrix). The heavy
    * CTEs are MATERIALIZED: DuckDB inlines CTEs by default, and each round
    * references the previous one twice (matvec + its own max-renormalizer),
    * so the inlined plan — and its parquet file handles — would grow 2^K.
    */
  val pcaPowerOracle: String = {
    def tdiv(a: String, b: String) = OracleMath.tdivSql(a, b)
    val renormS = s"greatest(${tdiv("smax", PcaScale.toString)}, 1)"
    val rounds = (1 to PcaRounds).map { k =>
      s"""w$k AS MATERIALIZED (SELECT i, CAST(sum(sn * v) AS BIGINT) AS w
         |  FROM sn JOIN v${k - 1} ON v${k - 1}.d = sn.j GROUP BY 1),
         |v$k AS MATERIALIZED (SELECT i AS d, ${tdiv("w",
        s"greatest(${tdiv(s"(SELECT max(abs(w)) FROM w$k)", PcaScale.toString)}, 1)")} AS v
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH c AS MATERIALIZED (
       |  SELECT e.vec_id, e.dim, e.x - m.m AS c
       |  FROM (SELECT vec_id, i - 1 AS dim,
       |          CAST(floor(CAST(embedding[i] AS DOUBLE) * $PcaQuant.0 + 0.5) AS BIGINT) AS x
       |        FROM embeddings, generate_series(1, 64) t(i)) e
       |  JOIN (SELECT dim, ${tdiv("CAST(sum(x) AS BIGINT)", "count(*)")} AS m
       |        FROM (SELECT i - 1 AS dim,
       |                CAST(floor(CAST(embedding[i] AS DOUBLE) * $PcaQuant.0 + 0.5) AS BIGINT) AS x
       |              FROM embeddings, generate_series(1, 64) t(i))
       |        GROUP BY 1) m USING (dim)),
       |s AS MATERIALIZED (
       |  SELECT a.dim AS i, b.dim AS j, CAST(sum(a.c * b.c) AS BIGINT) AS s
       |  FROM c a JOIN c b USING (vec_id) GROUP BY 1, 2),
       |sn AS MATERIALIZED (
       |  SELECT i, j, ${tdiv("s", renormS)} AS sn
       |  FROM s, (SELECT max(abs(s)) AS smax FROM s) sm),
       |v0 AS MATERIALIZED (SELECT DISTINCT i AS d, CAST($PcaScale AS BIGINT) AS v FROM sn),
       |$rounds,
       |t1 AS (SELECT i, CAST(sum(sn * v) AS BIGINT) AS t1
       |       FROM sn JOIN v$PcaRounds ON v$PcaRounds.d = sn.j GROUP BY 1),
       |met AS (SELECT CAST(sum(CAST(v.v AS HUGEINT) * t1.t1) AS DOUBLE) AS num,
       |               CAST(CAST(sum(v.v * v.v) AS BIGINT) AS DOUBLE) AS den
       |        FROM t1 JOIN v$PcaRounds v ON v.d = t1.i),
       |tr AS (SELECT CAST(CAST(sum(sn) AS BIGINT) AS DOUBLE) AS tr
       |       FROM sn WHERE i = j)
       |SELECT CAST(d AS BIGINT) AS dim, v AS eig_scaled,
       |  ${OracleMath.stableRoundSql("num / den / tr", 6)} AS top1_share
       |FROM v$PcaRounds, met, tr ORDER BY dim""".stripMargin
  }

  /** q295 — embedding distribution drift between sources, as the pairwise
    * squared L2 distance between per-source centroid vectors (= linear-kernel
    * MMD², the two-sample test statistic under a linear kernel): which
    * sources live in a DIFFERENT region of embedding space? A large value
    * between two sources means a semantic gate tuned on one will misfire on
    * the other, and a retrieval index will segregate them — the
    * embedding-space sibling of q271's token-distribution KL.
    *
    * Scale shape: embeddings join their documents on the vec_id = doc_id
    * convention (the q160/q182 linkage) — one row-level equi-join,
    * sort-merge at scale — then ONE (source, dim)-keyed aggregate
    * (|sources|·64 cells, map-side combined) holds everything; the pairwise
    * matrix is a self-join of that dictionary-sized table. Parity: component
    * sums are exact e6-quantized BIGINTs, centroid coordinates are their
    * truncating integer division (micro-units — no double→DECIMAL cast,
    * whose half-way rounding the engines disagree on), so the 64-term
    * distance sum is exact integer arithmetic (order-free) — only the final
    * readout division is float.
    */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val e = Tables.embeddings(spark, dir)
    val cent = e.join(docs, e("vec_id") === docs("doc_id"))
      .select(col("source"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("source"), col("dim"))
      .agg(sum(floor(col("x").cast("double") * lit(1000000.0) + lit(0.5)).cast("long")).as("sx"),
        count(lit(1)).as("n"))
      .select(col("source"), col("dim"), col("n"),
        OracleMath.tdiv(col("sx"), col("n")).as("m"))
    val a = cent.select(col("source").as("src_a"), col("dim"), col("m").as("ma"), col("n").as("n_a"))
    val b = cent.select(col("source").as("src_b"), col("dim"), col("m").as("mb"), col("n").as("n_b"))
    a.join(b, Seq("dim"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum((col("ma") - col("mb")) * (col("ma") - col("mb"))).as("d2"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        OracleMath.stableRound(col("d2").cast("double") / lit(1.0e12), 8).as("mmd2"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** The q295 twin — same quantized centroids and exact integer distance. */
  val centroidDriftOracle: String =
    s"""WITH ex AS (
       |  SELECT d.source, i - 1 AS dim,
       |    CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS x
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id,
       |       generate_series(1, 64) t(i)),
       |cent AS (SELECT source, dim, CAST(count(*) AS BIGINT) AS n,
       |    ${OracleMath.tdivSql("CAST(sum(x) AS BIGINT)", "count(*)")} AS m
       |  FROM ex GROUP BY 1, 2)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  max(a.n) AS n_a, max(b.n) AS n_b,
       |  ${OracleMath.stableRoundSql(
      "CAST(CAST(sum((a.m - b.m) * (a.m - b.m)) AS BIGINT) AS DOUBLE) / 1.0e12", 8)} AS mmd2
       |FROM cent a JOIN cent b ON a.dim = b.dim AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

  /** Number of signed-random-projection hyperplanes for the q306 sketch. */
  val SrpPlanes = 16

  /** The ±1 projection matrix, derived ONCE in the driver from md5 of
    * "plane:dim" (deterministic, seedless) and injected into BOTH engines
    * as literals — the sketch definition lives outside either engine, so
    * cross-engine parity is by construction (the q298 shared-constant
    * pattern). Single-sourced from the codegen kernel's matrix
    * ([[graft.functions.VectorKernels.SrpSigns16]]) so the kernel, the HOF
    * formulation, and the oracle literals can never drift.
    */
  val SrpSigns: Seq[Seq[Int]] =
    graft.functions.VectorKernels.SrpSigns16.toIndexedSeq.map(_.toIndexedSeq.map(_.toInt))

  /** q306 — SRP (signed random projection) bit-sketch calibration: compress
    * every embedding to [[SrpPlanes]] sign bits and measure, over the q161
    * eval workload × corpus, how Hamming distance on the 16-bit sketch
    * tracks true cosine — the decision table for "can a 2-byte sketch
    * prefilter my 256-byte vectors?" (Charikar's SimHash on DENSE vectors;
    * q40/q59 sketch word sets, this sketches the embedding space). Output:
    * per Hamming bucket, pair count and the exact mean/min/max of the
    * 6-dp-quantized cosine — a monotone-degrading curve when the sketch is
    * healthy.
    *
    * Scale shape: sketching is one row-local pass (16 exact integer dot
    * signs over e6-quantized components — no float, no RNG; the ±1 matrix
    * is a driver literal). The pair stage is the q161/q298 declared
    * MEASUREMENT shape: a ~5 % query panel × corpus broadcast-nested-loop,
    * priced as brute force because it IS the ground-truth audit; the
    * production prefilter this calibrates would bucket by sketch value
    * instead. The rollup is a ≤ 17-key aggregate.
    */
  def srpCalibration(spark: SparkSession, dir: String): DataFrame = {
    val d18 = org.apache.spark.sql.types.DecimalType(18, 6)
    val e = withSrpSketch(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")))
    val qs = e.filter(RetrievalOps.isEval)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("srp").as("q_srp"))
    val tr = e.filter(!RetrievalOps.isEval)
    tr.crossJoin(broadcast(qs))
      .select(hamming(col("q_srp"), col("srp")).cast("long").as("h"),
        OracleMath.stableRound(cosine(col("embedding"), col("q_emb")), 6)
          .cast(d18).as("cos_q"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum(col("cos_q")).cast("double") / count(lit(1)).cast("double")).as("mean_cos0"),
        min(col("cos_q")).cast("double").as("min_cos"),
        max(col("cos_q")).cast("double").as("max_cos"))
      .select(col("h"), col("n_pairs"),
        OracleMath.stableRound(col("mean_cos0"), 6).as("mean_cos"),
        col("min_cos"), col("max_cos"))
      .orderBy(col("h"))
  }

  /** The output-preserving 16-bit gate width for the corpus threshold
    * (0.35), which q307 passes to [[annNearDupOn]] as `Some((16, 14))`:
    * measured true-pair sketch Hamming maxima are 11 (sf0.001), 12 (sf0.01),
    * 13 (sf0.1) — monotone in corpus size because more pairs sample the
    * binomial tail — and the +1 margin covers the next unobserved bucket
    * (P(H ≥ 14 | cos = 0.35) ≈ 8·10⁻⁵ per pair, ≪ 1 expected loss at every
    * SF). q307 proves the preservation cross-engine by hash-matching q135's
    * UNGATED oracle at all SFs. At 16 bits and a threshold this weak
    * (θ ≈ 69°, flip-prob 0.39/bit) the safe gate only trims the far tail —
    * exactly what the q306 decision table says; q308 quantifies the cut at
    * this and at tighter thresholds, where the same sketch removes most of
    * the candidate space. Calibrated for θ = 0.35 only; every other
    * threshold takes its width from [[srpAutoGate]].
    */
  val SrpGateMaxH = 14

  /** Add the [[SrpPlanes]]-bit packed SRP sign sketch (`srp` BIGINT) to a
    * frame with an `embedding` column — the codegen'd
    * [[graft.functions.SrpSketch16]] kernel (one static loop per row; the
    * original 16 × `aggregate(zip_with(...))` interpreted folds cost q307
    * ~0.4 s at sf0.1).
    */
  private[graft] def withSrpSketch(df: DataFrame): DataFrame =
    df.withColumn("srp", graft.functions.VectorFunctions.srp16(col("embedding")))

  /** Output-preserving 64-bit gate width for the θ = 0.9 near-dup corpus
    * ([[derivedDupCorpus]]), passed as the gate `Some((64, 24))` by q321 and
    * hard-wired into the delta probes (q324, [[probeIndex]], q325); at
    * θ = 0.9 [[srpAutoGate]] derives the same width (q332). Measured max
    * true-pair Hamming is 12 / 11 / 14
    * (sf0.001 / 0.01 / 0.1 — [[srp64GateReport]]'s `max_true_h`), and the
    * margin to 24 covers ~4σ of the true-pair binomial (cos ≥ 0.9578 ⇒
    * flip-prob ≤ 0.093/bit ⇒ H ~ Binom(64, ≤0.093), mean ≤ 6, σ ≈ 2.4;
    * P(H ≥ 24) ≪ 10⁻⁸ per pair). HardeningSpec's margin test fails loudly
    * if a regenerated corpus breaches max_true_h ≤ 23 — the r9-advice fix
    * for the silent-margin problem. Candidates at this threshold sit near
    * H ≈ 25-32, so the gate keeps only ~7 % of them (93 % cut at sf0.1)
    * while q321 hash-matches q319's ungated oracle at all three SFs — the
    * double-digit cut 16 bits could not deliver at θ = 0.35 (q308).
    */
  val Srp64GateMaxH = 24

  /** 64-bit packed SRP sketch column (same `srp` name — the gate path in
    * [[annNearDupOn]] is width-agnostic downstream).
    */
  private[graft] def withSrpSketch64(df: DataFrame): DataFrame =
    df.withColumn("srp", graft.functions.VectorFunctions.srp64(col("embedding")))

  /** The verify threshold the production 64-bit gate was CALIBRATED at:
    * q322 measured true-pair Hamming maxima (12/11/14) against
    * [[Srp64GateMaxH]] on the θ = 0.9 derived corpus — every other arming
    * decision is held to the tail mass this point leaves.
    */
  val Srp64CalibrationTheta = 0.9

  /** Exact per-pair breach probability P(H > width) for a TRUE pair at
    * exactly θ under an `nBits`-plane SRP sketch: each bit flips with
    * probability p = acos(θ)/π (the random-hyperplane identity), so
    * H ~ Binom(nBits, p) and the breach mass is the exact upper binomial
    * tail (log-space sum — n ≤ 64, so this is cheap and overflow-free).
    *
    * The r12 advice showed why the previous mean + 5σ surrogate cannot
    * serve here: a normal tail bound degrades with n — at 64 bits and
    * θ = 0.9 the 5σ width's true binomial mass is ≈ 1.1·10⁻⁶, but at
    * 16 bits and θ = 0.998 the same "5σ" construction leaves ≈ 1.2·10⁻⁵ —
    * an order of magnitude weaker preservation at the exact point the
    * 16-bit sketch was being armed. Widths are now chosen by this exact
    * tail ([[srpExactWidth]]), so every armed gate meets the SAME
    * calibrated standard regardless of sketch width.
    */
  private[graft] def srpBreachProb(nBits: Int, width: Int, theta: Double): Double = {
    val p = math.acos(math.min(1.0, math.max(-1.0, theta))) / math.Pi
    if (p <= 0.0) return 0.0
    val lf = new Array[Double](nBits + 1)
    var i = 2
    while (i <= nBits) { lf(i) = lf(i - 1) + math.log(i.toDouble); i += 1 }
    val lp = math.log(p)
    val lq = math.log1p(-p)
    ((width + 1) to nBits).map(k =>
      math.exp(lf(nBits) - lf(k) - lf(nBits - k) + k * lp + (nBits - k) * lq)).sum
  }

  /** The per-pair breach budget every armed gate must meet: the exact tail
    * mass the calibrated production gate itself leaves at its operating
    * point — P(Binom(64, p(0.9)) > 24) ≈ 1.07·10⁻⁶ (HardeningSpec pins the
    * value). Derived, not hand-carried: tightening [[Srp64GateMaxH]] or
    * moving the calibration θ re-derives every other width automatically.
    */
  private[graft] lazy val SrpBreachStandard: Double =
    srpBreachProb(64, Srp64GateMaxH, Srp64CalibrationTheta)

  /** Output-preserving gate width for an `nBits`-plane SRP sketch at verify
    * threshold θ: the SMALLEST Hamming cut whose exact per-pair breach
    * probability ([[srpBreachProb]]) meets [[SrpBreachStandard]]. At the
    * calibration point (64, 0.9) this reproduces [[Srp64GateMaxH]] = 24 by
    * construction; everywhere else it replaces the old mean + 5σ surrogate
    * whose true tail mass drifted with n (r12 advice — the 16-bit arm at
    * θ = 0.998 under-covered ~11× and could silently drop true pairs).
    */
  private[graft] def srpExactWidth(nBits: Int, threshold: Double): Int =
    (0 to nBits).find(w => srpBreachProb(nBits, w, threshold) <= SrpBreachStandard)
      .getOrElse(nBits)

  /** Arming cutoff for an `nBits` sketch, DERIVED from the noise binomial
    * instead of a hand-carried literal (r11 advice: the literal 24 and the
    * rationale could silently drift apart): uncorrelated candidates sit at
    * H ~ Binom(nBits, ½) — mean nBits∕2, σ = √nBits∕2 — and a gate pays
    * only if the safe width undercuts that mass by ≥ 2σ:
    * cutoff = nBits∕2 − √nBits. At 64 bits this is 32 − 8 = 24, exactly
    * the deployed [[Srp64GateMaxH]] (HardeningSpec pins the agreement); at
    * 16 bits it is 8 − 4 = 4.
    */
  private[graft] def srpArmCutoff(nBits: Int): Int =
    nBits / 2 - math.round(math.sqrt(nBits)).toInt

  /** Threshold-driven automatic SRP gate — the decision rule the q322/q329
    * measurements established, derived from θ alone so [[annNearDup]]
    * callers get the right gate from the threshold alone. Returns
    * `(sketchBits, gateWidth)` for the CHEAPEST sketch whose exact-tail
    * width ([[srpExactWidth]]) still cuts, or None:
    *
    *  - the 16-bit sketch costs ¼ the per-vector hyperplane dot products of
    *    the 64-bit one, so it is tried first — but squeezing its exact-tail
    *    width under the cutoff (4) demands θ ≳ 0.9993: only near-exact
    *    duplicate regimes (re-crawl / re-encode dedup) qualify. q337
    *    (θ = 0.9995) exercises exactly that corpus and plan-pins the
    *    16-bit arm. The r12 advice's finding is why the boundary sits
    *    there and not at 0.998 (the previous 5σ arm point): at θ = 0.998
    *    the width-4 16-bit gate's exact breach mass is ≈ 1.2·10⁻⁵, ~11×
    *    the calibrated standard — a user corpus with true pairs near 0.998
    *    could silently lose pairs. At 0.998 the rule now hands out the
    *    64-BIT sketch at width 9 instead (q340 pins that plan against the
    *    same ungated oracle).
    *  - the 64-bit sketch arms for θ ≥ 0.9: at the calibration point the
    *    exact width IS the hand-calibrated [[Srp64GateMaxH]] = 24 by
    *    construction (measured true-pair maxima 12/11/14, q322).
    *  - at θ = 0.35 the 64-bit exact width is 43 and a gate would keep
    *    ~90 % of candidates (q329's measured 89.9 %) — disarm. The
    *    mid-similarity band (θ ∈ [0.5, 0.8]) disarms BOTH widths: fewer
    *    bits always separate LESS (width scales with n but the
    *    noise-to-signal gap scales with √n), so "would 16 bits pay where
    *    64 doesn't?" is answerable in closed form — no, and
    *    [[srpWidthDecisionReport]] (q336) measures it on a θ = 0.65 corpus
    *    rather than leaving the claim to algebra.
    */
  private[graft] def srpAutoGate(threshold: Double): Option[(Int, Int)] =
    Seq(16, 64).collectFirst {
      case n if srpExactWidth(n, threshold) <= srpArmCutoff(n) =>
        (n, srpExactWidth(n, threshold))
    }

  /** q332 — the automatic gate's registry consumer: [[annNearDupOn]] over
    * the derived duplicate corpus at θ = 0.9 with the gate argument left at
    * its default — [[srpAutoGate]]`(0.9)` arms the 64-bit gate at width 24
    * from the threshold alone (plan-pinned), and the result hash-matches
    * q319's UNGATED oracle at every SF: a user calling the one entry point
    * gets q321's 93 % candidate cut for free, or no gate at all at
    * θ = 0.35 (q135's plan stays byte-identical — its digest snapshot is
    * the pin).
    */
  def derivedAutoGatedNearDup(spark: SparkSession, dir: String): DataFrame = {
    annNearDupOn(derivedDupCorpus(spark, dir), 0.9)
  }

  /** Deterministic near-dup corpus for the θ = 0.9 regime the raw testdata
    * lacks (its observed max pair cosine is < 0.5 — q306/q308): every
    * [[PerturbEvery]]-th vector reappears with each component scaled by the
    * alternating [[PerturbMults]] pattern (±30 %), exactly replayable in
    * SQL. Writing odd-dim mass a and even-dim mass b = 1−a, the derived
    * pair's cosine is (0.6a + 0.7)/√(1.2a + 0.49) ∈ [1/√1.09, 1] ≈
    * [0.9578, 1] for EVERY vector — the constructed truth is the full
    * perturbed set, with ≥ 0.057 margin above the 0.9 verify threshold, so
    * banding recall and gate preservation are measurable against it.
    */
  val PerturbEvery = 5
  val PerturbIdOffset = 1000000000L
  val PerturbMults: IndexedSeq[Double] = (1 to 64).map(j => if (j % 2 == 1) 1.3 else 0.7)

  /** The perturbed re-observations alone — q324's "today's batch". */
  private[graft] def perturbedDelta(spark: SparkSession, dir: String): DataFrame =
    perturbedDeltaWith(spark, dir, PerturbMults, PerturbIdOffset)

  /** Parametric form of [[perturbedDelta]]: every [[PerturbEvery]]-th vector
    * re-observed with per-dimension multipliers `mults` under a fresh id
    * space — the one constructed-truth generator behind all three derived
    * regimes (θ ≈ 0.96 → [[PerturbMults]], θ ≈ 0.9998 →
    * [[NearExactMults]], θ ≈ 0.65-0.86 → [[MidSimMults]]).
    */
  private[graft] def perturbedDeltaWith(spark: SparkSession, dir: String,
      multsSeq: Seq[Double], idOffset: Long): DataFrame = {
    val mults = array(multsSeq.map(lit): _*)
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % PerturbEvery === 0)
      .select((col("vec_id") + idOffset).as("vec_id"),
        zip_with(col("embedding"), mults,
          (x, m) => (x.cast("double") * m).cast("float")).as("embedding"))
  }

  private[graft] def derivedDupCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .unionByName(perturbedDelta(spark, dir))

  /** NEAR-EXACT duplicate corpus (the re-crawl/re-encode regime): ±2 %
    * alternating per-dimension scaling. Writing odd-dim mass a, the derived
    * pair's cosine is (0.98 + 0.04a)/√(0.9604 + 0.0808a) ≥ 1∕√1.0004 ≈
    * 0.9998 for EVERY vector — comfortably above both near-exact verify
    * thresholds exercised against it: [[NearExactThreshold]] = 0.9995,
    * past the θ ≳ 0.9993 line where [[srpAutoGate]]'s 16-bit arm meets the
    * calibrated breach standard (exact width 4 ≤ cutoff 4 at ¼ the 64-bit
    * sketch's hyperplane work — q337), and 0.998, where the exact tail
    * says 16 bits does NOT meet it and the rule hands out 64 bits at
    * width 9 instead (q340; the r12-advice boundary).
    */
  val NearExactMults: IndexedSeq[Double] = (1 to 64).map(j => if (j % 2 == 1) 1.02 else 0.98)
  val NearExactIdOffset = 2000000000L
  val NearExactThreshold = 0.9995

  /** The r12 advice's contested arm point: under the superseded 5σ rule
    * the 16-bit sketch armed here with an under-covering gate; under the
    * exact-tail rule it correctly falls through to the 64-bit sketch
    * (width 9). q340 keeps this regime oracle-exercised.
    */
  val NearExact998Threshold = 0.998

  /** MID-SIMILARITY corpus (θ band [0.5, 0.8] — the r11 "would 16 bits pay
    * here?" question's test bed): strong alternating distortion ×3.0/×0.2
    * puts the derived pair's cosine at (0.2 + 2.8a)/√(0.04 + 8.96a) ≈
    * 0.63-0.86 across the odd-mass range, so the 0.65 verify threshold
    * lands truth in the exact band where BOTH sketch widths' safe gates
    * stop cutting.
    */
  val MidSimMults: IndexedSeq[Double] = (1 to 64).map(j => if (j % 2 == 1) 3.0 else 0.2)
  val MidSimIdOffset = 3000000000L
  val MidSimThreshold = 0.65

  /** q337 — the 16-bit auto gate's registry consumer: [[annNearDupOn]] over
    * the NEAR-EXACT corpus at θ = [[NearExactThreshold]] = 0.9995 with the
    * default gate — [[srpAutoGate]] arms the 16-BIT sketch at width 4
    * (plan-pinned: the plan carries `graft_srp16`, not `graft_srp64`), the
    * cheapest gate that still cuts, and the result hash-matches the
    * ungated oracle at every SF. Preservation now holds by the SAME exact
    * binomial standard as the production 64-bit gate: a true pair at
    * exactly θ = 0.9995 breaches width 4 with probability ≤ 1.07·10⁻⁶
    * ([[SrpBreachStandard]]); the corpus's own pairs sit at cos ≥ 0.9998
    * (breach < 10⁻⁸).
    */
  def nearExactAutoGatedNearDup(spark: SparkSession, dir: String): DataFrame = {
    annNearDupOn(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
        .unionByName(perturbedDeltaWith(spark, dir, NearExactMults, NearExactIdOffset)),
      NearExactThreshold)
  }

  /** q340 — the r12-advice boundary case kept oracle-exercised: the SAME
    * near-exact corpus verified at θ = [[NearExact998Threshold]] = 0.998,
    * the point where the superseded 5σ rule armed the 16-bit sketch with
    * an exact breach mass ≈ 1.2·10⁻⁵ (~11× the calibrated standard).
    * Under the exact-tail rule [[srpAutoGate]] hands out the 64-BIT sketch
    * at width 9 here (plan-pinned: `graft_srp64`, `<= 9`), and the result
    * hash-matches the ungated oracle at every SF — same answer as q337
    * (every corpus pair sits at cos ≥ 0.9998 > both thresholds), reached
    * through the OTHER arm of the decision rule: together q337/q340 are
    * the preservation proof for both sides of the 16-vs-64 boundary.
    */
  def nearExact998GatedNearDup(spark: SparkSession, dir: String): DataFrame = {
    annNearDupOn(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
        .unionByName(perturbedDeltaWith(spark, dir, NearExactMults, NearExactIdOffset)),
      NearExact998Threshold)
  }

  /** q319 — ANN near-dup at the REAL dedup threshold (0.9) over the derived
    * duplicate corpus: the same band-OR blocking + exact-cosine verify as
    * q135, UNGATED (gate `None`) — the oracle twin replays derivation,
    * banding and verify, and is also q321's oracle (the cross-engine proof
    * the 64-bit gate is output-preserving).
    */
  def derivedNearDup(spark: SparkSession, dir: String): DataFrame = {
    annNearDupOn(derivedDupCorpus(spark, dir), 0.9, None, gate = None)
  }

  /** q321 — q319 with the 64-bit SRP Hamming gate ARMED by argument
    * (`Some((64, Srp64GateMaxH))`, the width and threshold where the gate
    * PAYS): candidates drop inside the band join before the dedup shuffle
    * and the wide verify; output hash-matches q319's ungated oracle.
    */
  def srp64GatedDerivedNearDup(spark: SparkSession, dir: String): DataFrame = {
    annNearDupOn(derivedDupCorpus(spark, dir), 0.9, None, gate = Some((64, Srp64GateMaxH)))
  }

  /** (vec_id, embedding) + the 32-bit ANN band signature `sig` and the L2
    * norm `nrm` — the per-vector projection every band explode starts from.
    */
  private[graft] def withBandSignature(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      planeSignature(AnnBands * AnnRowsPerBand).as("sig"),
      sqrt(dotp(col("embedding"), col("embedding"))).as("nrm"))

  /** [[withBandSignature]] + the 64-bit SRP sketch `srp` — the row-local
    * sketch block of every 64-bit-gated delta path (q324, the index probes,
    * the streaming lane: stateless projections, safe in a streaming plan).
    */
  private[graft] def withBandSketch64(df: DataFrame): DataFrame =
    withSrpSketch64(withBandSignature(df))

  /** Explode a frame carrying `sig` to one row per (band key, band value),
    * carrying `vec_id` and the listed extra columns.
    */
  private[graft] def explodeBands(df: DataFrame, carry: Seq[String]): DataFrame =
    Banding.explodeBits(df, "vec_id" +: carry, "sig", AnnBands, AnnRowsPerBand)

  /** Two-sided (delta × corpus) band-OR near-dup core — the INCREMENTAL
    * shape: band keys computed for both sides, candidates from the per-band
    * equi-joins (no self-join triangle constraint — the sides are disjoint
    * id spaces), the 64-bit Hamming gate at [[Srp64GateMaxH]] inside the
    * band join, exact cosine verify. Cost ∝ delta × bucket sizes, never
    * corpus² — the shape a daily-ingest dedup actually runs at 100 TB: the
    * corpus side's sig/sketch columns are computed once per batch here, and
    * would be precomputed-and-stored in a standing deployment.
    */
  private[graft] def deltaNearDupOn(corpus0: DataFrame, delta0: DataFrame,
      threshold: Double): DataFrame = {
    val c = withBandSketch64(corpus0).persistTracked()
    val d = withBandSketch64(delta0).persistTracked()
    val cands = explodeBands(c, Seq("srp")).as("a").join(explodeBands(d, Seq("srp")).as("b"),
        col("a.bk") === col("b.bk") && col("a.bv") === col("b.bv") &&
          hamming(col("a.srp"), col("b.srp")) <= lit(Srp64GateMaxH))
      .select(col("a.vec_id").as("id_c"), col("b.vec_id").as("id_d"))
      .dropDuplicates("id_c", "id_d")
    val estC = c.count() * VecRowBytes
    val estD = d.count() * VecRowBytes
    val vc = c.select(col("vec_id").as("id_c"), col("embedding").as("emb_c"), col("nrm").as("nrm_c"))
    val vd = d.select(col("vec_id").as("id_d"), col("embedding").as("emb_d"), col("nrm").as("nrm_d"))
    cands.join(Joins.broadcastIfFits(vc, estC), "id_c")
      .join(Joins.broadcastIfFits(vd, estD), "id_d")
      .withColumn("sim", dotp(col("emb_c"), col("emb_d")) / (col("nrm_c") * col("nrm_d")))
      .filter(col("sim") >= threshold)
      .select(col("id_c"), col("id_d"), OracleMath.stableRound(col("sim"), 6).as("sim"))
      .orderBy(col("id_c"), col("id_d"))
  }

  /** q324 — INCREMENTAL near-dup with the 64-bit gate armed: today's batch
    * (the perturbed re-observations) against the standing corpus at
    * θ = 0.9 through [[deltaNearDupOn]]. The oracle replays the UNGATED
    * two-sided banding + verify — the same cross-engine
    * output-preservation proof as q321, now on the daily-ingest shape whose
    * cost scales with the delta.
    */
  def deltaGatedNearDup(spark: SparkSession, dir: String): DataFrame = {
    deltaNearDupOn(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      perturbedDelta(spark, dir), 0.9)
  }

  /** The band candidates of q329/q336's width comparison over `corpus`'s
    * (vec_id, embedding): returns the persisted vectors, each with its
    * signature, both sketches (`s16`, `s64`) and its norm, and the
    * persisted candidate pairs with both Hamming distances (`h16`, `h64`).
    */
  private def widthCandidates(corpus: DataFrame): (DataFrame, DataFrame) = {
    val base = corpus
      .select(col("vec_id"), col("embedding"), planeSignature(AnnBands * AnnRowsPerBand).as("sig"))
    val e = withSrpSketch64(withSrpSketch(base).withColumnRenamed("srp", "s16"))
      .withColumnRenamed("srp", "s64")
      .select(col("vec_id"), col("sig"), col("s16"), col("s64"),
        col("embedding"),
        sqrt(dotp(col("embedding"), col("embedding"))).as("nrm"))
      .persistTracked()
    val banded = explodeBands(e, Seq("s16", "s64"))
    val ch = banded.as("a").join(banded.as("b"), selfBandCond)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        hamming(col("a.s16"), col("b.s16")).as("h16"),
        hamming(col("a.s64"), col("b.s64")).as("h64"))
      .dropDuplicates("id_a", "id_b")
      .persistTracked()
    (e, ch)
  }

  /** q329 — the WIDTH question answered with data: is the 16-bit gate's
    * profitlessness at the corpus's θ = 0.35 (q308: safe gate keeps
    * 99.96 %) a sketch-width problem or a threshold problem? One row per
    * width (16 / 64 bits) over the ORIGINAL corpus: the measured max
    * true-pair Hamming (true pairs = q135's verified output), the
    * data-derived safe gate (max + 1), and the fraction of the band
    * candidates that gate keeps. The 64-bit row keeps ~98-99 % — at
    * cos ≈ 0.35 (θ ≈ 69°, flip-prob 0.39/bit) true pairs sit ~2σ from
    * random for ANY practical width, so the failure is the THRESHOLD's,
    * which is exactly why the deployed 64-bit gate lives on the θ = 0.9
    * corpus (q321/q322) instead.
    */
  def srpWidthReport(spark: SparkSession, dir: String): DataFrame = {
    val (e, ch) = widthCandidates(Tables.embeddings(spark, dir))
    // true pairs = the candidates the exact verify keeps at θ = 0.35
    val va = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val vb = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val truePairs = ch.join(va, "id_a").join(vb, "id_b")
      .filter(dotp(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")) >= 0.35)
      .select(col("h16"), col("h64"))
    // a 2-value rollup row (one max per width) drives the literal gates
    val tp = truePairs.agg(max(col("h16")).as("m16"), max(col("h64")).as("m64")).head()
    // max() over an empty set is NULL — fail with a targeted message
    // instead of an opaque NPE when a tiny/regenerated corpus produces no
    // band candidate clearing the 0.35 verify
    require(!tp.isNullAt(0) && !tp.isNullAt(1),
      "srpWidthReport: no true pairs at θ=0.35 in this corpus — the width " +
        "decision table needs at least one verified band candidate")
    val gates = Seq(16 -> (tp.getInt(0) + 1), 64 -> (tp.getInt(1) + 1))
    val keptCols = gates.map { case (w, g) =>
      sum(when((if (w == 16) col("h16") else col("h64")) <= lit(g), 1L).otherwise(0L))
        .as(s"kept_$w")
    }
    val row = ch.agg(count(lit(1)).as("n_cands"), keptCols: _*)
    val outStructs = gates.map { case (w, g) =>
      struct(lit(w).as("width"), lit(g - 1).as("max_true_h"), lit(g).as("gate_max_h"),
        col("n_cands").cast("long").as("n_cands"),
        col(s"kept_$w").cast("long").as("n_kept"))
    }
    row.select(explode(array(outStructs: _*)).as("r"))
      .select(col("r.width"), col("r.max_true_h"), col("r.gate_max_h"),
        col("r.n_cands"), col("r.n_kept"),
        OracleMath.stableRound(
          col("r.n_kept").cast("double") / col("r.n_cands").cast("double"), 6).as("pct_kept"))
      .orderBy(col("width"))
  }

  /** q336 — the [[srpAutoGate]] DECISION TABLE measured on the θ band the
    * r11 verdict asked about (θ ∈ [0.5, 0.8]): one row per sketch width
    * over the MID-SIMILARITY derived corpus ([[MidSimMults]], verify
    * θ = 0.65), carrying the rule's own constants (safe width, arming
    * cutoff, armed?) next to the measurement (candidate count, measured
    * max true-pair Hamming, and the fraction the rule's safe width would
    * keep). The table's message is that the rule's disarm is CORRECT here:
    * at θ = 0.65 the 16-bit safe width is 14 of 16 and the 64-bit safe
    * width is 36 of 64 — both sit past their noise cutoffs (4 / 24) and
    * keep nearly all candidates, so a gate would add a sketch column and a
    * bit_count to every band row for no cut. Fewer bits separate LESS
    * (the signal-to-noise gap scales with √n), so no width pays where 64
    * doesn't — measured, not just argued. The honest 16-bit regime is
    * near-exact θ (q337).
    */
  def srpWidthDecisionReport(spark: SparkSession, dir: String): DataFrame = {
    val (e, ch) = widthCandidates(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .unionByName(perturbedDeltaWith(spark, dir, MidSimMults, MidSimIdOffset)))
    val va = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val vb = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val withSim = ch.join(va, "id_a").join(vb, "id_b")
      .select(col("h16"), col("h64"),
        (dotp(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b"))
          >= MidSimThreshold).as("is_true"))
    // rule constants as literals — single Scala source for plan AND oracle
    val gates = Seq(16, 64).map(n => (n, srpExactWidth(n, MidSimThreshold), srpArmCutoff(n)))
    val aggCols = gates.flatMap { case (n, w, _) =>
      val h = if (n == 16) col("h16") else col("h64")
      Seq(sum(when(h <= lit(math.min(w, n)), 1L).otherwise(0L)).as(s"kept_$n"),
        max(when(col("is_true"), h)).as(s"mt_$n"))
    }
    val row = withSim.agg(count(lit(1)).as("n_cands"), aggCols: _*)
    val outStructs = gates.map { case (n, w, cut) =>
      struct(lit(n).as("width"), lit(w).as("rule_width"), lit(cut).as("arm_cutoff"),
        lit(w <= cut).as("armed"),
        col(s"mt_$n").cast("int").as("max_true_h"),
        col("n_cands").cast("long").as("n_cands"),
        col(s"kept_$n").cast("long").as("n_kept"))
    }
    row.select(explode(array(outStructs: _*)).as("r"))
      .select(col("r.width"), col("r.rule_width"), col("r.arm_cutoff"), col("r.armed"),
        col("r.max_true_h"), col("r.n_cands"), col("r.n_kept"),
        OracleMath.stableRound(
          col("r.n_kept").cast("double") / col("r.n_cands").cast("double"), 6).as("pct_kept"))
      .orderBy(col("width"))
  }

  /** q327 — the incremental gated near-dup against a STORED banded-corpus
    * index: the deployment shape the q324/q325 Scaladocs describe. The
    * corpus's (vec_id, srp, bk, bv) band rows are paid ONCE at ingest and
    * persisted as a parquet table BUCKETED on the band key, in the active
    * version of the `idx` root ([[ensureBandIndex]]; q339 probes the same
    * index) — every daily probe then reads matching buckets directly: the
    * corpus side of the candidate join has NO Exchange (plan-asserted in
    * PlanSpec with auto-broadcast disabled, the genuine big-corpus shape),
    * only the delta side shuffles, and its volume is 8 skinny rows per
    * arriving vector. Third physical shape for the incremental path
    * (recompute → q324, streaming → q325, stored index → q327), all pinned
    * to ONE oracle.
    */
  def indexProbeNearDup(spark: SparkSession, dir: String): DataFrame = {
    val s = Joins.scaleEmulationSession(spark)
    val (tIdx, _, _) = ensureBandIndex(s, dir, "idx", None)
    probeIndex(s, dir, tIdx)
  }

  /** Stable fingerprint of every constant a stored band index bakes in
    * (band count/width, the Weyl hyperplane matrix, the 64-bit SRP sign
    * matrix) — part of the index NAME, so changing any sketch constant can
    * never silently probe an index built under the old layout (r10 advice:
    * the build-if-absent guard alone would).
    */
  private[graft] lazy val bandIndexConstantsFp: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    // BandIndexBuckets is part of the identity (r13 advice): the manifest
    // re-register path bakes the CURRENT constant into CREATE TABLE DDL, so
    // a bucket-count change re-registering old files under a new count would
    // silently mis-prune probes unless the count changes the index NAME too.
    md.update(s"bands=$AnnBands;rpb=$AnnRowsPerBand;buckets=$BandIndexBuckets;"
      .getBytes("UTF-8"))
    (0 until AnnBands * AnnRowsPerBand).foreach { i =>
      hyperplane(i).foreach(x =>
        md.update(java.lang.Double.toString(x).getBytes("UTF-8")))
    }
    graft.functions.VectorKernels.SrpSigns64.foreach(r =>
      r.foreach(v => md.update(v.toByte)))
    md.digest().take(4).map("%02x".format(_)).mkString
  }

  /** The probe half of [[indexProbeNearDup]] / [[indexMergeProbeNearDup]]:
    * today's batch banded against the stored index (64-bit Hamming gate
    * inside the band join, corpus side exchange-free), then the exact
    * cosine verify against the corpus table.
    */
  private[graft] def probeIndex(s: SparkSession, dir: String, tIdx: String): DataFrame = {
    val cBands = s.table(tIdx).select(col("vec_id").as("id_c"),
      col("srp").as("srp_c"), col("bk"), col("bv"))
    val delta = withBandSketch64(perturbedDelta(s, dir)).persistTracked()
    val dBands = explodeBands(delta, Seq("srp"))
      .select(col("vec_id").as("id_d"), col("srp").as("srp_d"), col("bk"), col("bv"))
    val cands = dBands.join(cBands, Seq("bk", "bv"))
      .filter(hamming(col("srp_c"), col("srp_d")) <= lit(Srp64GateMaxH))
      .select(col("id_c"), col("id_d"))
      .dropDuplicates("id_c", "id_d")
    // corpus verify side needs ONLY (embedding, norm) — the band keys and
    // SRP sketch come from the stored index rows, so running the 32-plane
    // signature + 64-bit sketch over the whole corpus here (r14 finding:
    // withBandSketch64 did exactly that) was pure wasted compute, ~33
    // dot-products per corpus vector per probe.
    val vc = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id_c"), col("embedding").as("emb_c"),
        sqrt(dotp(col("embedding"), col("embedding"))).as("nrm_c"))
    val vd = delta.select(col("vec_id").as("id_d"),
      col("embedding").as("emb_d"), col("nrm").as("nrm_d"))
    cands.join(vc, "id_c").join(vd, "id_d")
      .withColumn("sim", dotp(col("emb_c"), col("emb_d")) / (col("nrm_c") * col("nrm_d")))
      .filter(col("sim") >= 0.9)
      .select(col("id_c"), col("id_d"), OracleMath.stableRound(col("sim"), 6).as("sim"))
      .orderBy(col("id_c"), col("id_d"))
  }

  /** q330 — the missing half of the stored-index incrementality (r10
    * verdict #2): arriving band rows are MERGED INTO the standing bucketed
    * index instead of forcing a rebuild, and the next probe sees them under
    * the same zero-corpus-side-Exchange plan. Staged end-to-end: the index
    * is built from HALF the corpus (even vec_ids), the merge appends the
    * other half into the ACTIVE version under the index's own bucket spec
    * (Spark validates the spec on append; each bucket gains a file, the
    * scan stays bucketed), and the q324 probe then runs against the merged
    * index — its output must hash-match q324's FULL-recompute oracle, so a
    * dropped, misrouted, or lost band row surfaces as a pair-set mismatch.
    * The merge runs exactly once per index version ([[mergeBatchOnce]]'s
    * `_GRAFT_MERGED_oddhalf` marker), so bench reps and retried jobs skip
    * it; a corpus regeneration builds a fresh version with no markers, and
    * the next run merges into it.
    */
  def indexMergeProbeNearDup(spark: SparkSession, dir: String): DataFrame = {
    val s = Joins.scaleEmulationSession(spark)
    val (tIdx, root, _) =
      ensureBandIndex(s, dir, "idxm", Some(col("vec_id") % 2 === 0))
    mergeBatchOnce(s, dir, tIdx, root, "oddhalf", col("vec_id") % 2 === 1)
    probeIndex(s, dir, tIdx)
  }

  /** Append arriving band rows into `path`, the ACTIVE version dir of an
    * existing stored index, under the index's OWN bucket spec, derived from
    * the table's catalog DDL — never the build-time constant (r12 verdict
    * #4: rows hashed into the wrong bucket count are misrouted for every
    * subsequent bucket-pruned probe). The build constant is referenced only
    * when [[ensureBandIndex]] creates a version; every later writer inherits
    * whatever spec the index actually carries. Callers hold
    * [[Staging.withLock]] on the index root, and the catalog table is
    * registered at `path` (which [[ensureBandIndex]] guarantees).
    */
  private[graft] def appendBandRows(s: SparkSession, rows: DataFrame,
      tIdx: String, path: java.io.File): Unit = {
    val (nBuckets, bCols, sCols) =
      org.apache.spark.sql.graftbridge.GraftSqlBridge.bucketSpec(s, tIdx)
        .getOrElse(throw new IllegalStateException(
          s"$tIdx carries no bucket spec — refusing to append into a non-band-index table"))
    rows.repartition(nBuckets, bCols.map(col): _*)
      .write.format("parquet")
      .bucketBy(nBuckets, bCols.head, bCols.tail: _*)
      .sortBy(sCols.head, sCols.tail: _*)
      .option("path", path.getAbsolutePath)
      .mode("append").saveAsTable(tIdx)
  }

  /** Bucket count a stored band index is FIRST CREATED with — the single
    * source [[ensureBandIndex]] bakes into a new version's DDL, and part of
    * the index identity ([[bandIndexConstantsFp]]). Every later writer
    * (merge appends via [[appendBandRows]], compaction via
    * [[compactBandIndex]]) re-derives the LIVE spec from the table's own
    * catalog DDL instead of re-hardcoding this, so an index built under a
    * different layout is never merged or compacted into the wrong one.
    */
  val BandIndexBuckets = 8

  /** Compaction trigger: [[compactBandIndex]] rewrites when the active
    * version holds MORE than this many data files per bucket. Measured at
    * sf0.1 on a local FS (the SAME rows rewritten at k×buckets upstream
    * tasks so file count varies at constant data volume; min-of-3 probe
    * latency): 1.0/2.0/4.0/7.3/9.9/12.6 files per bucket → 1.34 (cold)
    * /0.91/0.92/0.88/1.01/0.81 s — FLAT on this local FS, parquet footer
    * opens are nearly free. The measurement therefore says what the
    * trigger must NOT be: an any->1 rule, which pays a nightly full-index
    * rewrite for no measurable probe benefit. 3 amortizes each rewrite
    * over ≥ 3 merge batches; the real knee lives on object stores, where
    * per-file GET/listing latency grows linearly with file count, so
    * deployments there should tune this down — the point is that it is a
    * POLICY constant backed by a measurement, not a hidden side effect of
    * the compactor. q333's 4-files-per-bucket lifecycle exercises the fire
    * path at the default.
    */
  val CompactTriggerFilesPerBucket = 3

  /** q333 — the maintenance lifecycle CLOSED: build (quarter corpus) → three
    * daily merges ([[mergeBatchOnce]], one batch marker each) → COMPACT
    * ([[compactBandIndex]]: 8 build files + 24 merge files → 8, written as
    * the next version and flipped to) → probe. The probe must hash-match
    * the same full-recompute oracle as q324/q327/q330 — compaction that
    * loses, duplicates, or misroutes a band row fails the pair-set hash —
    * and the compacted version keeps the zero-corpus-side-Exchange plan
    * (it is registered under the bucket DDL derived from the catalog;
    * plan-asserted). The compacted version carries every merge marker, so
    * a re-run merges nothing and finds nothing to compact. With merge
    * (q330) and compaction (q333) the stored index is genuinely operable:
    * ingest once, append daily, compact on a schedule, probe always cheap.
    */
  def indexCompactProbeNearDup(spark: SparkSession, dir: String): DataFrame = {
    val s = Joins.scaleEmulationSession(spark)
    val (tIdx, root, _) =
      ensureBandIndex(s, dir, "idxk", Some(col("vec_id") % 4 === 0))
    Seq(1, 2, 3).foreach { r =>
      mergeBatchOnce(s, dir, tIdx, root, s"q$r", col("vec_id") % 4 === r)
    }
    compactBandIndex(s, tIdx, root)
    probeIndex(s, dir, tIdx)
  }

  // ================= stored band-index lifecycle =================

  /** The one lifecycle of every stored band index (q327/q330/q333/q339/
    * q342/q343; each variant has its own root, q327 and q339 share `idx`).
    *
    * Layout: `<root>/_GRAFT_MANIFEST` is a one-line pointer naming the
    * ACTIVE version directory `<root>/v_NNNNNN/`, which holds the bucketed
    * parquet files, the [[Staging.Marker]] corpus snapshot and the per-batch
    * `_GRAFT_MERGED_*` merge markers. Invariants:
    *
    *  - a version is flipped to only once it is COMPLETE (its snapshot
    *    marker is written or copied last), and the flip itself is
    *    write-aside + atomic rename of the POINTER — a reader resolving the
    *    manifest at any instant sees a whole index;
    *  - no data directory is ever renamed: a build ([[ensureBandIndex]])
    *    and a compaction ([[compactBandIndex]]) each write a NEW version
    *    and flip to it; a merge ([[mergeBatchOnce]]) appends into the
    *    active version; all three hold [[Staging.withLock]] on the root;
    *  - a flip RETAINS the predecessor version until the next flip, so a
    *    reader that resolved the old pointer keeps reading intact files
    *    through a whole compaction; older versions and never-flipped dirs
    *    are swept by the flip after ([[gcVersions]]);
    *  - batch state is version-scoped: a rebuild lands in a fresh version
    *    with no merge markers, and compaction copies the markers forward;
    *  - crash recovery is a NO-OP by construction: a crash anywhere leaves
    *    the pointer at the last complete version; a torn next-version dir
    *    was never flipped to, is skipped for naming ([[nextVersionName]])
    *    and swept by the next flip; a catalog entry left at a superseded
    *    version is re-pointed by the next [[ensureBandIndex]].
    *
    * At 100 TB the trade is: one extra small-file read per probe session
    * (the pointer) and 2× transient index storage around a compaction, for
    * zero reader stalls and no rename primitive required of the store (an
    * object store has none for directories). HardeningSpec proves the
    * retention grace, the debris sweep and both crash points.
    */
  private def manifestOf(root: java.io.File) =
    new java.io.File(root, "_GRAFT_MANIFEST")

  private[graft] def activeVersionDir(root: java.io.File): Option[java.io.File] = {
    val mf = manifestOf(root)
    if (!mf.exists()) None
    else {
      val v = new String(
        java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8").trim
      val d = new java.io.File(root, v)
      if (d.isDirectory) Some(d) else None
    }
  }

  /** Atomic pointer flip: write aside, then move onto the manifest name.
    * ATOMIC_MOVE on the same directory is a rename(2); a concurrent
    * reader sees either the old pointer or the new one, never a torn
    * write.
    */
  private def flipManifest(root: java.io.File, version: String): Unit = {
    val tmp = new java.io.File(root, "_GRAFT_MANIFEST__next")
    java.nio.file.Files.write(tmp.toPath, (version + "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, manifestOf(root).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Next version name = max existing + 1 — debris from a crashed write
    * (a v_* dir never flipped to) is skipped over, not reused, so a
    * half-written dir can never be mistaken for fresh output.
    */
  private def nextVersionName(root: java.io.File): String = {
    val n = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.matches("v_\\d{6}"))
      .map(_.getName.drop(2).toInt).foldLeft(0)(math.max) + 1
    f"v_$n%06d"
  }

  /** Sweep every version dir except `keep` (the new active + the retained
    * predecessor): older versions have no readers left — a reader
    * resolves the pointer at most one flip ago by the retention contract
    * — and anything newer-numbered but unflipped is crash debris.
    */
  private def gcVersions(root: java.io.File, keep: Set[String]): Unit =
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.matches("v_\\d{6}") &&
        !keep(f.getName))
      .foreach(Staging.rmrf)

  /** The (vec_id, srp, bk, bv) band rows of `dir`'s embeddings, optionally
    * `subset`-filtered: what a build writes and a merge appends.
    */
  private def bandRows(s: SparkSession, dir: String, subset: Option[Column]): DataFrame = {
    val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    explodeBands(withBandSketch64(subset.map(base.filter).getOrElse(base)), Seq("srp"))
  }

  /** Resolve-or-build the stored bucketed band index over `dir`'s
    * embeddings (optionally `subset`-filtered). Index identity =
    * [[bandIndexConstantsFp]] (in the table and root names, both
    * [[Staging.storedName]]s of `dir`) + the [[Staging.snapshot]] of the
    * embeddings in the [[Staging.Marker]] of the active version: a missing or
    * mismatched marker builds a NEW version and flips to it. A valid
    * active version is never rebuilt; if this session's catalog lacks the
    * table or has it at a superseded version (another process flipped
    * since), it is re-REGISTERED via DDL carrying the bucket spec — the
    * ingest-once/probe-cheap contract across JVMs (a bare path read would
    * scan unbucketed and re-grow the Exchange the index exists to remove).
    * Returns (table name, index root, whether this call built).
    */
  private[graft] def ensureBandIndex(s: SparkSession, dir: String,
      variant: String, subset: Option[Column]): (String, java.io.File, Boolean) = {
    val tIdx = Staging.storedName(s"band_${variant}_$bandIndexConstantsFp", dir)
    val root = new java.io.File(Staging.storedDir(s"mfx_${variant}_$bandIndexConstantsFp", dir))
    Staging.withLock(root) {
      root.mkdirs()
      val snap = Staging.snapshot(s, dir, Seq("embeddings"))
      // planned only on the build and re-register paths: a warm probe whose
      // catalog already names the active version neither analyses the
      // sketch nor runs the corpus read's schema-inference job
      lazy val rows = bandRows(s, dir, subset)
      val activeOk = activeVersionDir(root).filter(Staging.isStaged(_, snap))
      val (vDir, built) = activeOk match {
        case Some(d) => (d, false)
        case None =>
          val prev = activeVersionDir(root).map(_.getName)
          val vName = nextVersionName(root)
          val d = new java.io.File(root, vName)
          Staging.rmrf(d)
          if (s.catalog.tableExists(tIdx)) s.sql(s"DROP TABLE $tIdx")
          rows.repartition(BandIndexBuckets, col("bk"), col("bv"))
            .write.format("parquet")
            .bucketBy(BandIndexBuckets, "bk", "bv").sortBy("bk", "bv")
            .option("path", d.getAbsolutePath)
            .mode("overwrite").saveAsTable(tIdx)
          Staging.markStaged(d, snap)
          flipManifest(root, vName)
          gcVersions(root, Set(vName) ++ prev)
          (d, true)
      }
      if (!built) {
        val registeredAt = if (s.catalog.tableExists(tIdx))
          org.apache.spark.sql.graftbridge.GraftSqlBridge.tableLocation(s, tIdx)
            .map(u => new java.io.File(u).getAbsolutePath)
        else None
        if (!registeredAt.contains(vDir.getAbsolutePath)) {
          if (s.catalog.tableExists(tIdx)) s.sql(s"DROP TABLE $tIdx")
          s.sql(s"""CREATE TABLE $tIdx (${rows.schema.toDDL})
            |USING parquet CLUSTERED BY (bk, bv) SORTED BY (bk, bv)
            |INTO $BandIndexBuckets BUCKETS
            |LOCATION '${vDir.getAbsolutePath}'""".stripMargin)
        }
      }
      (tIdx, root, built)
    }
  }

  /** Merge one arriving batch — the band rows of `dir`'s embeddings that
    * pass `batchFilter` — into the active version EXACTLY ONCE: under
    * [[Staging.withLock]] on `root`, resolve the active version, return if its
    * `_GRAFT_MERGED_<batch>` marker exists, else [[appendBandRows]] and
    * write the marker after the rows. The marker belongs to the version, so
    * a rebuild starts without it and a compaction carries it forward. A
    * crash between the append and the marker replays the append on the
    * next run; the probes dedup candidate pairs, so the output is unchanged.
    */
  private def mergeBatchOnce(s: SparkSession, dir: String, tIdx: String,
      root: java.io.File, batch: String, batchFilter: Column): Unit =
    Staging.withLock(root) {
      val vDir = activeVersionDir(root).getOrElse(throw new IllegalStateException(
        s"no active version under $root — build before merging"))
      val marker = new java.io.File(vDir, s"_GRAFT_MERGED_$batch")
      if (!marker.exists()) {
        appendBandRows(s, bandRows(s, dir, Some(batchFilter)), tIdx, vDir)
        java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
      }
    }

  /** Rewrite a merged band index back to ONE file per bucket. Every
    * [[mergeBatchOnce]] appends a file per bucket, so after a run of daily
    * batches each probe opens files ∝ batch count — the small-files decay
    * of an append-only bucketed store. Fires past
    * [[CompactTriggerFilesPerBucket]] (or an explicit `minFilesPerBucket`);
    * the bucket spec (count, bucket/sort columns) is derived from the
    * table's own catalog DDL. The active version's RAW files are rewritten
    * into the next version dir (the hash-repartition matches the bucket
    * hash, so each task owns exactly its bucket — one output file each; a
    * bucketed scan would let the optimizer elide the aligning exchange and
    * the writer split one file per task × bucket), its markers are copied
    * after the data with the snapshot marker last, the pointer flips, the
    * table is re-registered at the new version, and the sweep keeps only
    * the new version and its predecessor. An already-compact index returns
    * false untouched, so the call is idempotent and safe on a schedule.
    */
  private[graft] def compactBandIndex(s: SparkSession, tIdx: String,
      root: java.io.File,
      minFilesPerBucket: Int = CompactTriggerFilesPerBucket): Boolean =
    Staging.withLock(root) {
      val vDir = activeVersionDir(root).getOrElse(throw new IllegalStateException(
        s"no active version under $root — build before compacting"))
      val dataFiles = Option(vDir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith("part-"))
      val (nBuckets, bCols, sCols) =
        org.apache.spark.sql.graftbridge.GraftSqlBridge.bucketSpec(s, tIdx)
          .getOrElse(throw new IllegalStateException(
            s"$tIdx carries no bucket spec — not a band index"))
      if (dataFiles.length <= nBuckets.toLong * minFilesPerBucket) return false
      val ddl = s.table(tIdx).schema.toDDL
      val vName = nextVersionName(root)
      val next = new java.io.File(root, vName)
      Staging.rmrf(next)
      val tTmp = tIdx + "_staging"
      if (s.catalog.tableExists(tTmp)) s.sql(s"DROP TABLE $tTmp")
      s.read.parquet(vDir.getAbsolutePath)
        .repartition(nBuckets, bCols.map(col): _*)
        .write.format("parquet")
        .bucketBy(nBuckets, bCols.head, bCols.tail: _*)
        .sortBy(sCols.head, sCols.tail: _*)
        .option("path", next.getAbsolutePath)
        .mode("overwrite").saveAsTable(tTmp)
      s.sql(s"DROP TABLE $tTmp") // external: DDL only, the staged files stay
      // markers last, snapshot marker LAST of all: its presence is what
      // marks the version complete, so it must land after every data file
      Option(vDir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith("_GRAFT_"))
        .sortBy(f => if (f.getName == Staging.Marker) 1 else 0)
        .foreach { m =>
          java.nio.file.Files.copy(m.toPath,
            new java.io.File(next, m.getName).toPath)
        }
      flipManifest(root, vName)
      s.sql(s"DROP TABLE $tIdx")
      s.sql(s"""CREATE TABLE $tIdx ($ddl)
        |USING parquet CLUSTERED BY (${bCols.mkString(", ")})
        |SORTED BY (${sCols.mkString(", ")}) INTO $nBuckets BUCKETS
        |LOCATION '${next.getAbsolutePath}'""".stripMargin)
      s.sql(s"REFRESH TABLE $tIdx")
      gcVersions(root, Set(vName, vDir.getName))
      true
    }

  /** q342 — the lifecycle's POINTER FLIP end-to-end on the q330/q333 corpus
    * construction: build the index from the even half, merge the odd half
    * ([[mergeBatchOnce]]), compact with the trigger forced to fire on the
    * first run — next version written, pointer flipped, predecessor
    * retained, table re-registered — and probe. The probe must hash-match
    * the same full-recompute oracle as q330/q333, so a row lost or
    * misrouted by the pointer machinery fails the pair-set hash.
    */
  def indexManifestProbeNearDup(spark: SparkSession, dir: String): DataFrame = {
    val s = Joins.scaleEmulationSession(spark)
    val (tIdx, root, _) =
      ensureBandIndex(s, dir, "mfx", Some(col("vec_id") % 2 === 0))
    mergeBatchOnce(s, dir, tIdx, root, "oddhalf", col("vec_id") % 2 === 1)
    // force the compaction leg every first run (the merge added one file
    // per bucket): the default trigger's fire path is q333's subject; this
    // query's subject is the FLIP — pointer, retention, re-registration
    compactBandIndex(s, tIdx, root, minFilesPerBucket = 1)
    probeIndex(s, dir, tIdx)
  }

  /** Neighbors returned per delta vector by [[indexKnnDelta]]. */
  val KnnDeltaK = 3

  /** q343 — index-backed incremental k-NN: every arriving (delta) vector
    * gets its top-[[KnnDeltaK]] nearest CORPUS vectors through the standing
    * band index — the retrieval query a training-data pipeline runs beside
    * dedup (near-duplicate ATTRIBUTION: "which stored documents is this new
    * one closest to", for provenance, contamination tracing, or
    * routing-to-reviewer), distinct from the threshold probes (q327/q330/
    * q333/q342) which only answer "is it a duplicate".
    *
    * ANN contract: top-k AMONG BAND CANDIDATES (vectors sharing ≥ 1 of the
    * [[AnnBands]] SRP band keys) — the standard index-ANN semantic, and the
    * oracle implements the identical candidate generation in SQL, so the
    * comparison is exact, not recall-approximate. No Hamming pre-gate here:
    * the gates are calibrated for the θ ≥ 0.9 dup regime, while a k-NN's
    * 2nd/3rd neighbor legitimately sits at ANY cosine — a gate would prune
    * true answers.
    *
    * Scale shape: corpus side is the stored bucketed index (zero exchange,
    * same plan as the threshold probes), candidates are band-bounded
    * (never delta × corpus), the exact re-rank joins only candidates, and
    * the top-k window partitions by the DELTA id — fan-in proportional to
    * each query's own candidate count. Ranking rounds the cosine FIRST
    * ([[OracleMath.stableRound]] at 6 dp, ties broken by corpus id) so the
    * order is decimal-exact across engines — the float-sum association gap
    * between Spark and DuckDB lives below the rounding scale.
    */
  def indexKnnDelta(spark: SparkSession, dir: String): DataFrame = {
    val s = Joins.scaleEmulationSession(spark)
    val (tIdx, _, _) = ensureBandIndex(s, dir, "knn", None)
    val cBands = s.table(tIdx).select(col("vec_id").as("id_c"),
      col("bk"), col("bv"))
    val delta = withBandSignature(perturbedDelta(s, dir)).persistTracked()
    val dBands = explodeBands(delta, Seq.empty)
      .select(col("vec_id").as("id_d"), col("bk"), col("bv"))
    val cands = dBands.join(cBands, Seq("bk", "bv"))
      .select(col("id_c"), col("id_d"))
      .dropDuplicates("id_c", "id_d")
    // only (embedding, norm) — band keys come from the stored index (same
    // r14 wasted-compute finding as [[probeIndex]])
    val vc = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id_c"), col("embedding").as("emb_c"),
        sqrt(dotp(col("embedding"), col("embedding"))).as("nrm_c"))
    val vd = delta.select(col("vec_id").as("id_d"),
      col("embedding").as("emb_d"), col("nrm").as("nrm_d"))
    val simed = cands.join(vc, "id_c").join(vd, "id_d")
      .withColumn("sim", OracleMath.stableRound(
        dotp(col("emb_c"), col("emb_d")) / (col("nrm_c") * col("nrm_d")), 6))
    import org.apache.spark.sql.expressions.Window
    simed
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("id_d")).orderBy(col("sim").desc, col("id_c"))))
      .filter(col("rank") <= KnnDeltaK)
      .select(col("id_d"), col("rank").cast("long").as("rank"),
        col("id_c"), col("sim"))
      .orderBy(col("id_d"), col("rank"))
  }

  /** q339 — the NIGHTLY DEDUP PIPELINE composed end-to-end, the query a
    * training-data curator actually schedules: today's batch
    * ([[perturbedDelta]]) → probe the STORED bucketed band index (q330's
    * merged index — corpus side exchange-free, 64-bit gate inside the band
    * join) for delta-vs-corpus near-dup edges → band today's batch against
    * ITSELF for delta-vs-delta edges (the probe cannot see them; the batch
    * is small, so this is the cheap side) → contract the delta edges onto
    * yesterday's stored cluster labels ([[DedupOps.incrementalCC]]) →
    * updated cluster table. Yesterday's corpus-sized edge set is never
    * recomputed; the index is never rebuilt.
    *
    * Yesterday's label table is the corpus self-labeled — the raw corpus
    * has no internal pairs at θ = 0.9 (its measured max pair cosine is
    * < 0.5, q306/q308) — and this assumption is ORACLE-AUDITED, not
    * trusted: the oracle recomputes the FULL truth over the derived corpus
    * (band candidates of every kind, exact verify at 0.9, recursive-CTE
    * closure), so a corpus-corpus pair the pipeline skipped would break
    * the hash at that SF. Likewise the two gates (index probe's fixed
    * [[Srp64GateMaxH]], the delta self-join's auto gate) must be
    * output-preserving for the hash to survive — q339 is therefore also
    * an end-to-end preservation proof for the composed pipeline.
    */
  def nightlyDedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Joins.scaleEmulationSession(spark)
    val (tIdx, _, _) = ensureBandIndex(s, dir, "idx", None)
    val corpusDelta = probeIndex(s, dir, tIdx)
      .select(col("id_c").as("doc_a"), col("id_d").as("doc_b"))
    val deltaDelta = annNearDupOn(perturbedDelta(s, dir), 0.9)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val deltaPairs = corpusDelta.unionByName(deltaDelta)
    val oldLabels = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("vec_id").as("label"))
    val newNodes = perturbedDelta(s, dir).select(col("vec_id").as("doc_id"))
    DedupOps.incrementalCC(oldLabels, newNodes, deltaPairs)
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** The q339 twin — the FULL-recompute truth over the derived corpus:
    * band candidates (all three kinds: corpus-corpus, corpus-delta,
    * delta-delta), ungated exact verify at θ = 0.9, recursive-CTE
    * closure, clusters keyed by the component minimum.
    */
  val nightlyDedupOracle: String =
    s"""WITH RECURSIVE $dcorpCteSql,
       |sigs AS (SELECT vec_id, $annBandColsSql FROM dcorp),
       |$annCandSql,
       |ver AS (
       |  SELECT c.id_a, c.id_b, ${cosSql("ea.embedding", "eb.embedding")} AS s
       |  FROM cand c
       |  JOIN dcorp ea ON ea.vec_id = c.id_a
       |  JOIN dcorp eb ON eb.vec_id = c.id_b),
       |pairs AS (SELECT id_a, id_b FROM ver WHERE s >= 0.9),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |vids AS (SELECT DISTINCT vec_id FROM dcorp),
       |reach AS (SELECT vec_id AS node, vec_id AS r FROM vids
       |  UNION SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r),
       |cc AS (SELECT node AS vec_id, min(r) AS cluster_id FROM reach GROUP BY node)
       |SELECT vec_id, cluster_id,
       | count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       | vec_id = cluster_id AS keep
       |FROM cc ORDER BY vec_id""".stripMargin

  /** q322 — the 64-bit gate's measurement row over the derived corpus: band
    * candidate count, gate keep count/fraction at [[Srp64GateMaxH]],
    * constructed-truth banding recall, and the preservation evidence
    * (n_true_kept must equal n_true_caught; max_true_h is the measured
    * calibration the gate constant must clear). One row, fully replayable.
    */
  def srp64GateReport(spark: SparkSession, dir: String): DataFrame = {
    val e = withSrpSketch64(derivedDupCorpus(spark, dir)
        .select(col("vec_id"), col("embedding"), planeSignature(AnnBands * AnnRowsPerBand).as("sig")))
      .select(col("vec_id"), col("sig"), col("srp"))
      .persistTracked()
    val banded = explodeBands(e, Seq("srp"))
    val ch = banded.as("a").join(banded.as("b"), selfBandCond)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        hamming(col("a.srp"), col("b.srp")).as("hd"))
      .dropDuplicates("id_a", "id_b")
    val truth = e.filter(col("vec_id") < PerturbIdOffset
        && col("vec_id") % PerturbEvery === 0)
      .select(col("vec_id").as("id_a"),
        (col("vec_id") + PerturbIdOffset).as("id_b"), lit(true).as("is_true"))
    val g = lit(Srp64GateMaxH)
    val stats = ch.join(truth, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_cands"),
        sum(when(col("hd") <= g, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true_caught"),
        sum(when(col("is_true") && col("hd") <= g, 1L).otherwise(0L)).as("n_true_kept"),
        max(when(col("is_true"), col("hd"))).cast("long").as("max_true_h"))
    val nv = e.agg(count(lit(1)).as("n_vectors"))
    val nt = truth.agg(count(lit(1)).as("n_true"))
    stats.crossJoin(nv).crossJoin(nt)
      .select(col("n_vectors"), col("n_true"), col("n_true_caught"),
        OracleMath.stableRound(
          col("n_true_caught").cast("double") / col("n_true").cast("double"), 6)
          .as("band_recall"),
        col("n_cands"), col("n_kept"),
        OracleMath.stableRound(
          col("n_kept").cast("double") / col("n_cands").cast("double"), 6)
          .as("pct_kept"),
        col("n_true_kept"), col("max_true_h"))
  }

  /** q307 — [[annNearDup]] with the SRP Hamming prefilter ARMED (the q306
    * calibration deployed as a candidate gate): identical output to q135 —
    * the oracle is q135's ungated twin, so a single dropped true pair fails
    * the hash — with tail candidates cut before the dedup shuffle and the
    * exact verify. The gate is the argument `Some((16, SrpGateMaxH))`
    * to [[annNearDupOn]]; q135 leaves it at its default, which disarms at
    * θ = 0.35. θ is fixed at 0.35, the only θ `SrpGateMaxH` was measured at.
    */
  def srpGatedNearDup(spark: SparkSession, dir: String): DataFrame =
    annNearDupOn(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      0.35, None, gate = Some((16, SrpGateMaxH)))

  /** q308 — the SRP gate's decision report: for each near-dup threshold θ,
    * the calibration-derived gate (max Hamming bucket whose OBSERVED max
    * cosine still reaches θ, +1 margin for the unobserved tail — the rule
    * that, at θ = 0.35, reproduces [[SrpGateMaxH]] on the full-size corpus)
    * and the fraction of q135's band-candidate pairs that gate would keep.
    * This is the "can 2 bytes prefilter 256?" answer as one table: at the
    * corpus's weak 0.35 threshold the safe gate keeps ~99.7 % (the sketch
    * cannot separate θ ≈ 69° from random at 16 bits — deploy wider sketches
    * or tighter thresholds); at 0.65+ no observed bucket qualifies and the
    * gate cuts everything.
    *
    * Scale shape: the calibration is the q306 measurement pass (5 % panel ×
    * corpus broadcast); its 17-row rollup collects to drive four literal
    * gate widths; candidates come from the same 8 band-key shuffles as q135
    * (never N²) and roll up in one conditional aggregate.
    */
  def srpGateReport(spark: SparkSession, dir: String): DataFrame = {
    val thetas = Seq("0.35", "0.50", "0.65", "0.80") // exact decimal literals
    // bounded-collect: ≤ SrpPlanes+1 rows (one per Hamming bucket) — the
    // calibration rollup is a ≤ 17-key aggregate regardless of corpus size
    val calib = srpCalibration(spark, dir)
      .select(col("h"), col("max_cos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val gates: Seq[(String, Long)] = thetas.map { t =>
      val th = t.toDouble
      val qualifying = calib.filter(_._2 >= th).map(_._1)
      (t, if (qualifying.isEmpty) -1L else qualifying.max + 1L)
    }
    val e = withSrpSketch(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), planeSignature(AnnBands * AnnRowsPerBand).as("sig")))
      .select(col("vec_id"), col("sig"), col("srp"))
      .persistTracked()
    val banded = explodeBands(e, Seq("srp"))
    val ch = banded.as("a").join(banded.as("b"), selfBandCond)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        hamming(col("a.srp"), col("b.srp")).as("hd"))
      .dropDuplicates("id_a", "id_b")
    val keptCols = gates.map { case (t, g) =>
      sum(when(col("hd") <= lit(g), 1L).otherwise(0L)).as("kept_" + t.replace(".", "_"))
    }
    val row = ch.agg(count(lit(1)).as("n_cands"), keptCols: _*)
    val outStructs = gates.map { case (t, g) =>
      struct(lit(t.toDouble).as("theta"), lit(g).as("gate_max_h"),
        col("n_cands").cast("long").as("n_cands"), col("kept_" + t.replace(".", "_")).cast("long").as("n_kept"))
    }
    row.select(explode(array(outStructs: _*)).as("r"))
      .select(col("r.theta"), col("r.gate_max_h"), col("r.n_cands"), col("r.n_kept"),
        OracleMath.stableRound(
          col("r.n_kept").cast("double") / col("r.n_cands").cast("double"), 6).as("pct_kept"))
      .orderBy(col("theta"))
  }

  /** The shared SRP-sketch CTE prefix (q306 calibration + q308 report):
    * sketch bits per vector (`b`), the eval split, and the eval×corpus
    * calibration pair set (`cpairs`: Hamming bucket + quantized cosine).
    */
  private def srpBaseCtesSql: String = {
    val signsLit = SrpSigns.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""e AS MATERIALIZED (SELECT vec_id, embedding,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xq
       |  FROM embeddings),
       |sgn AS MATERIALIZED (
       |  -- the 16x64 literal indexed exactly once per cell (a per-element
       |  -- lambda reference rebuilds the nested list per call: minutes)
       |  SELECT p, i, $signsLit[p][i] AS s
       |  FROM generate_series(1, $SrpPlanes) t(p), generate_series(1, 64) u(i)),
       |dots AS (
       |  SELECT ex.vec_id, g.p, sum(g.s * ex.x) AS dot
       |  FROM (SELECT vec_id, i, xq[i] AS x FROM e, generate_series(1, 64) u(i)) ex
       |  JOIN sgn g USING (i) GROUP BY 1, 2),
       |b AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, t.bits
       |  FROM e JOIN (SELECT vec_id,
       |                 list(CASE WHEN dot >= 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
       |               FROM dots GROUP BY 1) t USING (vec_id)),
       |ev AS (SELECT vec_id AS q_id, embedding AS q_emb, bits AS q_bits FROM b
       |       WHERE ${RetrievalOps.evalSql}),
       |tr AS (SELECT * FROM b
       |       WHERE NOT (${RetrievalOps.evalSql})),
       |cpairs AS (
       |  SELECT len(list_filter(range(1, ${SrpPlanes + 1}),
       |           p -> ev.q_bits[p] <> tr.bits[p])) AS h,
       |    CAST(${OracleMath.stableRoundSql(cosSql("tr.embedding", "ev.q_emb"), 6)}
       |         AS DECIMAL(18,6)) AS cos_q
       |  FROM tr CROSS JOIN ev)""".stripMargin
  }

  /** The q306 twin — the SAME driver-derived ±1 literals, integer dot
    * signs, and exact quantized-cosine rollup.
    */
  val srpCalibrationOracle: String =
    s"""WITH $srpBaseCtesSql
       |SELECT CAST(h AS BIGINT) AS h, CAST(count(*) AS BIGINT) AS n_pairs,
       |  ${OracleMath.stableRoundSql(
      "CAST(sum(cos_q) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS mean_cos,
       |  CAST(min(cos_q) AS DOUBLE) AS min_cos,
       |  CAST(max(cos_q) AS DOUBLE) AS max_cos
       |FROM cpairs GROUP BY 1 ORDER BY h""".stripMargin

  /** The q135 twin (and, verbatim, the q307 twin): per-band 4-bit keys
    * bv0..bv7 from the same Weyl planes; candidates share any band; exact
    * cosine verify — the Spark plan's dataflow, replayed as SQL over literal
    * plane arrays. One hash-joinable equi-join per band, UNION-deduped: the
    * prior OR-of-equalities join forced a quadratic nested loop in DuckDB
    * (the sf0.1 sweep's ~105 s hot spot); embeddings re-attach AFTER the
    * dedup so each surviving pair's cosine is computed exactly once.
    */
  def annNearDupOracle: String =
    s"""WITH sigs AS (SELECT vec_id, $annBandColsSql FROM embeddings),
       |$annCandSql,
       |ver AS (
       |  SELECT c.id_a, c.id_b, ${cosSql("ea.embedding", "eb.embedding")} AS s
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.id_a
       |  JOIN embeddings eb ON eb.vec_id = c.id_b)
       |SELECT id_a, id_b, ${OracleMath.stableRoundSql("s", 6)} AS sim
       |FROM ver WHERE s >= 0.35
       |ORDER BY id_a, id_b""".stripMargin

  /** Derived duplicate corpus CTE — the q319/q321/q322 shared prefix: the
    * SAME float arithmetic as [[derivedDupCorpus]] (double-promote, scale by
    * the exact decimal-literal multiplier, round back to REAL — both
    * engines' float cast is IEEE round-to-nearest).
    */
  private def dcorpCteSql: String = dcorpCteSqlWith(PerturbMults, PerturbIdOffset)

  /** Parametric derived-corpus CTE — the SQL twin of
    * [[perturbedDeltaWith]] ∪ originals, shared by the θ ≈ 0.96 (q319…),
    * near-exact (q337) and mid-similarity (q336) regimes.
    */
  private def dcorpCteSqlWith(multsSeq: Seq[Double], idOffset: Long): String = {
    val multsLit = multsSeq.map(_.toString).mkString("[", ", ", "]")
    s"""dcorp AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $idOffset AS vec_id,
       |    list_transform(generate_series(1, 64),
       |      i -> CAST(CAST(embedding[i] AS DOUBLE) * ($multsLit)[i] AS REAL)) AS embedding
       |  FROM embeddings WHERE vec_id % $PerturbEvery = 0)""".stripMargin
  }

  /** The q319 twin — and, VERBATIM, the q321 twin (the gated run must
    * reproduce the ungated pair set bit-for-bit).
    */
  val derivedNearDupOracle: String = derivedNearDupOracleWith(dcorpCteSql, 0.9)

  /** The q337 twin — the UNGATED pair set over the near-exact corpus; the
    * 16-bit auto-gated Spark run must hash-match it (same preservation
    * argument as q321, at the width where the cheap sketch pays).
    */
  val nearExactNearDupOracle: String = derivedNearDupOracleWith(
    dcorpCteSqlWith(NearExactMults, NearExactIdOffset), NearExactThreshold)

  /** q340's twin: same corpus CTE, verify at 0.998 (the other gate arm). */
  val nearExact998NearDupOracle: String = derivedNearDupOracleWith(
    dcorpCteSqlWith(NearExactMults, NearExactIdOffset), NearExact998Threshold)

  private def derivedNearDupOracleWith(corpusCte: String, threshold: Double): String =
    s"""WITH $corpusCte,
       |sigs AS (SELECT vec_id, $annBandColsSql FROM dcorp),
       |$annCandSql,
       |ver AS (
       |  SELECT c.id_a, c.id_b, ${cosSql("ea.embedding", "eb.embedding")} AS s
       |  FROM cand c
       |  JOIN dcorp ea ON ea.vec_id = c.id_a
       |  JOIN dcorp eb ON eb.vec_id = c.id_b)
       |SELECT id_a, id_b, ${OracleMath.stableRoundSql("s", 6)} AS sim
       |FROM ver WHERE s >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** The 64×64 ±1 plane literal re-exported for the oracle (single source:
    * [[graft.functions.VectorKernels.SrpSigns64]]). Declared BEFORE the
    * oracle string that interpolates it — object vals initialize in order.
    */
  val SrpSigns64: Seq[Seq[Int]] =
    graft.functions.VectorKernels.SrpSigns64.toIndexedSeq.map(_.toIndexedSeq.map(_.toInt))

  /** The q324 twin — the delta CTE, band keys on BOTH sides, per-band
    * two-sided equi-joins (UNION-deduped), exact verify. Ungated: the gated
    * Spark run must hash-match it (the q321 preservation argument on the
    * incremental shape).
    */
  val deltaNearDupOracle: String = {
    val multsLit = PerturbMults.map(_.toString).mkString("[", ", ", "]")
    val unions = (0 until AnnBands).map { b =>
      s"SELECT c.vec_id AS id_c, d.vec_id AS id_d\n" +
        s"  FROM sigs_c c JOIN sigs_d d ON c.bv$b = d.bv$b"
    }.mkString("\n  UNION\n  ")
    s"""WITH delta AS MATERIALIZED (
       |  SELECT vec_id + $PerturbIdOffset AS vec_id,
       |    list_transform(generate_series(1, 64),
       |      i -> CAST(CAST(embedding[i] AS DOUBLE) * ($multsLit)[i] AS REAL)) AS embedding
       |  FROM embeddings WHERE vec_id % $PerturbEvery = 0),
       |sigs_c AS (SELECT vec_id, $annBandColsSql FROM embeddings),
       |sigs_d AS (SELECT vec_id, $annBandColsSql FROM delta),
       |cand AS (
       |  $unions),
       |ver AS (
       |  SELECT c.id_c, c.id_d, ${cosSql("ec.embedding", "ed.embedding")} AS s
       |  FROM cand c
       |  JOIN embeddings ec ON ec.vec_id = c.id_c
       |  JOIN delta ed ON ed.vec_id = c.id_d)
       |SELECT id_c, id_d, ${OracleMath.stableRoundSql("s", 6)} AS sim
       |FROM ver WHERE s >= 0.9
       |ORDER BY id_c, id_d""".stripMargin
  }

  /** q344's twin: identical eval slice, band-candidate generation, and
    * rounded-then-ranked top-k on both the band and the exact side.
    */
  val bandRecallOracle: String = {
    val unions = (0 until AnnBands).map { b =>
      s"SELECT q.q_id, t.vec_id\n" +
        s"  FROM sigs_q q JOIN sigs_t t ON q.bv$b = t.bv$b"
    }.mkString("\n  UNION\n  ")
    s"""WITH ev AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE ${RetrievalOps.evalSql}),
       |tr AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE NOT (${RetrievalOps.evalSql})),
       |sigs_q AS (SELECT vec_id AS q_id, $annBandColsSql FROM ev),
       |sigs_t AS (SELECT vec_id, $annBandColsSql FROM tr),
       |cand AS (
       |  $unions),
       |scored AS (
       |  SELECT c.q_id, c.vec_id,
       |    ${OracleMath.stableRoundSql(cosSql("t.embedding", "e.embedding"), 6)} AS sim
       |  FROM cand c
       |  JOIN tr t ON t.vec_id = c.vec_id
       |  JOIN ev e ON e.vec_id = c.q_id),
       |bandtop AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |    FROM scored)
       |  WHERE rn <= $BandRecallK),
       |ncand AS (SELECT q_id, count(*) AS n_candidates FROM cand GROUP BY 1),
       |exacttop AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT e.vec_id AS q_id, t.vec_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${OracleMath.stableRoundSql(cosSql("t.embedding", "e.embedding"), 6)} DESC,
       |                 t.vec_id) AS rn
       |    FROM tr t CROSS JOIN ev e)
       |  WHERE rn <= $BandRecallK),
       |hits AS (SELECT q_id, count(*) AS n_hits
       |         FROM exacttop JOIN bandtop USING (q_id, vec_id) GROUP BY 1)
       |SELECT e.vec_id AS q_id,
       | CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates,
       | CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       | ${OracleMath.stableRoundSql(s"CAST(coalesce(n_hits, 0) AS DOUBLE) / ${BandRecallK.toDouble}", 4)} AS recall
       |FROM ev e
       |LEFT JOIN ncand ON ncand.q_id = e.vec_id
       |LEFT JOIN hits ON hits.q_id = e.vec_id
       |ORDER BY q_id""".stripMargin
  }

  /** q343's twin: the IDENTICAL band-candidate generation (the index-ANN
    * contract is top-k among candidates, so the oracle reproduces the
    * candidate set exactly — the comparison is exact, not
    * recall-approximate), exact cosine re-rank, rounded-then-ranked
    * ordering with the corpus id as tiebreak.
    */
  val indexKnnOracle: String = {
    val multsLit = PerturbMults.map(_.toString).mkString("[", ", ", "]")
    val unions = (0 until AnnBands).map { b =>
      s"SELECT c.vec_id AS id_c, d.vec_id AS id_d\n" +
        s"  FROM sigs_c c JOIN sigs_d d ON c.bv$b = d.bv$b"
    }.mkString("\n  UNION\n  ")
    s"""WITH delta AS MATERIALIZED (
       |  SELECT vec_id + $PerturbIdOffset AS vec_id,
       |    list_transform(generate_series(1, 64),
       |      i -> CAST(CAST(embedding[i] AS DOUBLE) * ($multsLit)[i] AS REAL)) AS embedding
       |  FROM embeddings WHERE vec_id % $PerturbEvery = 0),
       |sigs_c AS (SELECT vec_id, $annBandColsSql FROM embeddings),
       |sigs_d AS (SELECT vec_id, $annBandColsSql FROM delta),
       |cand AS (
       |  $unions),
       |sims AS (
       |  SELECT c.id_d, c.id_c,
       |         ${OracleMath.stableRoundSql(cosSql("ec.embedding", "ed.embedding"), 6)} AS sim
       |  FROM cand c
       |  JOIN embeddings ec ON ec.vec_id = c.id_c
       |  JOIN delta ed ON ed.vec_id = c.id_d)
       |SELECT id_d, CAST(rn AS BIGINT) AS rank, id_c, sim FROM (
       |  SELECT id_d, id_c, sim,
       |         row_number() OVER (PARTITION BY id_d ORDER BY sim DESC, id_c) AS rn
       |  FROM sims)
       |WHERE rn <= $KnnDeltaK ORDER BY id_d, rank""".stripMargin
  }

  /** The q329 twin — both sketch widths replayed over the ORIGINAL corpus,
    * the data-derived safe gate per width (max true-pair Hamming + 1), and
    * the keep fraction over the band candidates.
    */
  val srpWidthReportOracle: String = {
    val s16 = SrpSigns.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    val s64 = SrpSigns64.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xq
       |  FROM embeddings),
       |ex AS MATERIALIZED (SELECT vec_id, i, xq[i] AS x FROM e, generate_series(1, 64) u(i)),
       |sgn16 AS MATERIALIZED (SELECT p, i, $s16[p][i] AS s
       |  FROM generate_series(1, $SrpPlanes) t(p), generate_series(1, 64) u(i)),
       |sgn64 AS MATERIALIZED (SELECT p, i, $s64[p][i] AS s
       |  FROM generate_series(1, 64) t(p), generate_series(1, 64) u(i)),
       |b16 AS MATERIALIZED (SELECT vec_id,
       |    list(CASE WHEN dot >= 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
       |  FROM (SELECT ex.vec_id, g.p, sum(g.s * ex.x) AS dot
       |        FROM ex JOIN sgn16 g USING (i) GROUP BY 1, 2) GROUP BY 1),
       |b64 AS MATERIALIZED (SELECT vec_id,
       |    list(CASE WHEN dot >= 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
       |  FROM (SELECT ex.vec_id, g.p, sum(g.s * ex.x) AS dot
       |        FROM ex JOIN sgn64 g USING (i) GROUP BY 1, 2) GROUP BY 1),
       |sigs AS (SELECT vec_id, $annBandColsSql FROM embeddings),
       |$annCandSql,
       |ch AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b,
       |    len(list_filter(range(1, ${SrpPlanes + 1}), p -> xa.bits[p] <> xb.bits[p])) AS h16,
       |    len(list_filter(range(1, 65), p -> ya.bits[p] <> yb.bits[p])) AS h64
       |  FROM cand c
       |  JOIN b16 xa ON xa.vec_id = c.id_a JOIN b16 xb ON xb.vec_id = c.id_b
       |  JOIN b64 ya ON ya.vec_id = c.id_a JOIN b64 yb ON yb.vec_id = c.id_b),
       |tp AS (SELECT max(ch.h16) AS m16, max(ch.h64) AS m64
       |  FROM ch
       |  JOIN e ea ON ea.vec_id = ch.id_a
       |  JOIN e eb ON eb.vec_id = ch.id_b
       |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.35),
       |st AS (SELECT count(*) AS n_cands,
       |    sum(CASE WHEN ch.h16 <= tp.m16 + 1 THEN 1 ELSE 0 END) AS k16,
       |    sum(CASE WHEN ch.h64 <= tp.m64 + 1 THEN 1 ELSE 0 END) AS k64
       |  FROM ch CROSS JOIN tp)
       |SELECT width, max_true_h, gate_max_h, n_cands, n_kept,
       |  ${OracleMath.stableRoundSql(
        "CAST(n_kept AS DOUBLE) / CAST(n_cands AS DOUBLE)", 6)} AS pct_kept
       |FROM (
       |  SELECT CAST(16 AS INT) AS width, CAST(tp.m16 AS INT) AS max_true_h,
       |    CAST(tp.m16 + 1 AS INT) AS gate_max_h,
       |    CAST(st.n_cands AS BIGINT) AS n_cands, CAST(st.k16 AS BIGINT) AS n_kept
       |  FROM st CROSS JOIN tp
       |  UNION ALL
       |  SELECT CAST(64 AS INT), CAST(tp.m64 AS INT), CAST(tp.m64 + 1 AS INT),
       |    CAST(st.n_cands AS BIGINT), CAST(st.k64 AS BIGINT)
       |  FROM st CROSS JOIN tp)
       |ORDER BY width""".stripMargin
  }

  /** The q336 twin — both sketch widths replayed over the MID-SIMILARITY
    * derived corpus, truth at θ = 0.65, keep fractions at the RULE's safe
    * widths (interpolated from the same [[srpExactWidth]]/[[srpArmCutoff]]
    * Scala source the plan uses — the rule and the oracle cannot drift).
    */
  val srpWidthDecisionReportOracle: String = {
    val s16 = SrpSigns.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    val s64 = SrpSigns64.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    val gates = Seq(16, 64).map(n =>
      (n, srpExactWidth(n, MidSimThreshold), srpArmCutoff(n)))
    val keptSel = gates.map { case (n, w, _) =>
      s"sum(CASE WHEN ch.h$n <= ${math.min(w, n)} THEN 1 ELSE 0 END) AS k$n"
    }.mkString(",\n    ")
    val rows = gates.map { case (n, w, cut) =>
      s"""SELECT CAST($n AS INT) AS width, CAST($w AS INT) AS rule_width,
         |    CAST($cut AS INT) AS arm_cutoff, ${w <= cut} AS armed,
         |    CAST(tp.m$n AS INT) AS max_true_h,
         |    CAST(st.n_cands AS BIGINT) AS n_cands, CAST(st.k$n AS BIGINT) AS n_kept
         |  FROM st CROSS JOIN tp""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ${dcorpCteSqlWith(MidSimMults, MidSimIdOffset)},
       |e AS MATERIALIZED (SELECT vec_id, embedding,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xq
       |  FROM dcorp),
       |ex AS MATERIALIZED (SELECT vec_id, i, xq[i] AS x FROM e, generate_series(1, 64) u(i)),
       |sgn16 AS MATERIALIZED (SELECT p, i, $s16[p][i] AS s
       |  FROM generate_series(1, $SrpPlanes) t(p), generate_series(1, 64) u(i)),
       |sgn64 AS MATERIALIZED (SELECT p, i, $s64[p][i] AS s
       |  FROM generate_series(1, 64) t(p), generate_series(1, 64) u(i)),
       |b16 AS MATERIALIZED (SELECT vec_id,
       |    list(CASE WHEN dot >= 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
       |  FROM (SELECT ex.vec_id, g.p, sum(g.s * ex.x) AS dot
       |        FROM ex JOIN sgn16 g USING (i) GROUP BY 1, 2) GROUP BY 1),
       |b64 AS MATERIALIZED (SELECT vec_id,
       |    list(CASE WHEN dot >= 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
       |  FROM (SELECT ex.vec_id, g.p, sum(g.s * ex.x) AS dot
       |        FROM ex JOIN sgn64 g USING (i) GROUP BY 1, 2) GROUP BY 1),
       |sigs AS (SELECT vec_id, $annBandColsSql FROM dcorp),
       |$annCandSql,
       |ch AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b,
       |    len(list_filter(range(1, ${SrpPlanes + 1}), p -> xa.bits[p] <> xb.bits[p])) AS h16,
       |    len(list_filter(range(1, 65), p -> ya.bits[p] <> yb.bits[p])) AS h64
       |  FROM cand c
       |  JOIN b16 xa ON xa.vec_id = c.id_a JOIN b16 xb ON xb.vec_id = c.id_b
       |  JOIN b64 ya ON ya.vec_id = c.id_a JOIN b64 yb ON yb.vec_id = c.id_b),
       |tp AS (SELECT max(ch.h16) AS m16, max(ch.h64) AS m64
       |  FROM ch
       |  JOIN e ea ON ea.vec_id = ch.id_a
       |  JOIN e eb ON eb.vec_id = ch.id_b
       |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= $MidSimThreshold),
       |st AS (SELECT count(*) AS n_cands,
       |    $keptSel
       |  FROM ch)
       |SELECT width, rule_width, arm_cutoff, armed, max_true_h, n_cands, n_kept,
       |  ${OracleMath.stableRoundSql(
        "CAST(n_kept AS DOUBLE) / CAST(n_cands AS DOUBLE)", 6)} AS pct_kept
       |FROM (
       |  $rows)
       |ORDER BY width""".stripMargin
  }

  /** The q322 twin — 64-plane integer dot signs from the driver-derived ±1
    * literal matrix, band candidates over the derived corpus, Hamming per
    * candidate, and the one-row preservation/cut rollup.
    */
  val srp64GateReportOracle: String = {
    val signsLit = SrpSigns64.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""WITH $dcorpCteSql,
       |e64 AS (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xq
       |  FROM dcorp),
       |sgn64 AS MATERIALIZED (
       |  SELECT p, i, $signsLit[p][i] AS s
       |  FROM generate_series(1, 64) t(p), generate_series(1, 64) u(i)),
       |dots64 AS (
       |  SELECT ex.vec_id, g.p, sum(g.s * ex.x) AS dot
       |  FROM (SELECT vec_id, i, xq[i] AS x FROM e64, generate_series(1, 64) u(i)) ex
       |  JOIN sgn64 g USING (i) GROUP BY 1, 2),
       |b64 AS MATERIALIZED (
       |  SELECT vec_id, list(CASE WHEN dot >= 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
       |  FROM dots64 GROUP BY 1),
       |sigs AS (SELECT vec_id, $annBandColsSql FROM dcorp),
       |$annCandSql,
       |ch AS (
       |  SELECT c.id_a, c.id_b,
       |    len(list_filter(range(1, 65), p -> ba.bits[p] <> bb.bits[p])) AS hd,
       |    (c.id_b = c.id_a + $PerturbIdOffset AND c.id_a % $PerturbEvery = 0) AS is_true
       |  FROM cand c
       |  JOIN b64 ba ON ba.vec_id = c.id_a
       |  JOIN b64 bb ON bb.vec_id = c.id_b),
       |nv AS (SELECT count(*) AS n_vectors FROM dcorp),
       |nt AS (SELECT count(*) AS n_true FROM embeddings WHERE vec_id % $PerturbEvery = 0),
       |st AS (SELECT count(*) AS n_cands,
       |    sum(CASE WHEN hd <= $Srp64GateMaxH THEN 1 ELSE 0 END) AS n_kept,
       |    sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS n_true_caught,
       |    sum(CASE WHEN is_true AND hd <= $Srp64GateMaxH THEN 1 ELSE 0 END) AS n_true_kept,
       |    max(CASE WHEN is_true THEN hd END) AS max_true_h
       |  FROM ch)
       |SELECT CAST(n_vectors AS BIGINT) AS n_vectors, CAST(n_true AS BIGINT) AS n_true,
       |  CAST(n_true_caught AS BIGINT) AS n_true_caught,
       |  ${OracleMath.stableRoundSql(
        "CAST(n_true_caught AS DOUBLE) / CAST(n_true AS DOUBLE)", 6)} AS band_recall,
       |  CAST(n_cands AS BIGINT) AS n_cands, CAST(n_kept AS BIGINT) AS n_kept,
       |  ${OracleMath.stableRoundSql(
        "CAST(n_kept AS DOUBLE) / CAST(n_cands AS DOUBLE)", 6)} AS pct_kept,
       |  CAST(n_true_kept AS BIGINT) AS n_true_kept,
       |  CAST(max_true_h AS BIGINT) AS max_true_h
       |FROM st CROSS JOIN nv CROSS JOIN nt""".stripMargin
  }

  /** The q308 twin — calibration-derived per-threshold gates applied to the
    * q135 band-candidate set, replayed end-to-end: sketch bits, eval-pair
    * calibration, gate rule (max qualifying Hamming bucket + 1, −1 when no
    * bucket reaches θ), band candidates, and the conditional rollup.
    */
  val srpGateReportOracle: String =
    s"""WITH $srpBaseCtesSql,
       |calib AS (SELECT h, CAST(max(cos_q) AS DOUBLE) AS max_cos
       |          FROM cpairs GROUP BY h),
       |th AS (SELECT CAST(t AS DOUBLE) AS theta
       |       FROM (VALUES (0.35), (0.50), (0.65), (0.80)) v(t)),
       |gates AS (SELECT theta,
       |    COALESCE(max(CASE WHEN c.max_cos >= th.theta THEN c.h END) + 1, -1) AS gate_max_h
       |  FROM th CROSS JOIN calib c GROUP BY theta),
       |sigs AS (SELECT vec_id, $annBandColsSql FROM embeddings),
       |$annCandSql,
       |ch AS (
       |  SELECT c.id_a, c.id_b,
       |    len(list_filter(range(1, ${SrpPlanes + 1}),
       |      p -> ba.bits[p] <> bb.bits[p])) AS hd
       |  FROM cand c
       |  JOIN b ba ON ba.vec_id = c.id_a
       |  JOIN b bb ON bb.vec_id = c.id_b)
       |SELECT g.theta AS theta, CAST(g.gate_max_h AS BIGINT) AS gate_max_h,
       |  CAST(count(*) AS BIGINT) AS n_cands,
       |  CAST(sum(CASE WHEN ch.hd <= g.gate_max_h THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  ${OracleMath.stableRoundSql(
      "CAST(sum(CASE WHEN ch.hd <= g.gate_max_h THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS pct_kept
       |FROM gates g CROSS JOIN ch
       |GROUP BY g.theta, g.gate_max_h
       |ORDER BY theta""".stripMargin

  /** The q149 twin — band candidates + exact verify closed transitively
    * with a recursive CTE (the embedding graph is pair-bounded at every
    * SF). ALSO q338's oracle verbatim: the incremental contract-and-remap
    * build must hash-match the full recompute, cross-engine.
    */
  val semanticClustersOracle: String = {

      // q135's band-candidate + exact-verify dataflow, closed transitively
      // with a recursive CTE (the embedding graph is pair-bounded at every SF)
      s"""WITH RECURSIVE sigs AS (SELECT vec_id, $annBandColsSql FROM embeddings),
         |$annCandSql,
         |ver AS (
         |  SELECT c.id_a, c.id_b, ${cosSql("ea.embedding", "eb.embedding")} AS s
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.id_a
         |  JOIN embeddings eb ON eb.vec_id = c.id_b),
         |pairs AS (SELECT id_a, id_b FROM ver WHERE s >= 0.35),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |vids AS (SELECT DISTINCT vec_id FROM embeddings),
         |reach AS (SELECT vec_id AS node, vec_id AS r FROM vids
         |  UNION SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         |cc AS (SELECT node AS vec_id, min(r) AS cluster_id FROM reach GROUP BY node)
         |SELECT vec_id, cluster_id,
         | count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         | vec_id = cluster_id AS keep
         |FROM cc ORDER BY vec_id""".stripMargin
  }

  // -- DuckDB oracle twins of the registry queries built here (SparkEntry.registry)
  def knnBruteForceOracle: String =
    s"""SELECT e.vec_id, e.label, ${OracleMath.stableRoundSql(cosSql("e.embedding", "q.q_emb"), 6)} AS sim
       |FROM embeddings e, (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
       |WHERE e.vec_id <> 0
       |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin
  def embeddingNearDupOracle: String =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${OracleMath.stableRoundSql(cosSql("a.embedding", "b.embedding"), 6)} AS sim
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35
       |ORDER BY id_a, id_b""".stripMargin
  def centroidsOracle: String =
    """SELECT label, i - 1 AS dim, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid
      |FROM embeddings, generate_series(1, 64) t(i)
      |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin
  def annBucketsOracle: String = {
    val bucket = (0 until 8).map(i => sigBitSql(i, 1L << i)).mkString(" + ")
    s"""SELECT CAST($bucket AS BIGINT) AS bucket, count(*) AS n_vectors
       |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin
  }
  def topkPerLabelOracle: String =
    s"""SELECT label, CAST(rn AS BIGINT) AS rank, vec_id FROM (
       | SELECT e.label, e.vec_id,
       |  row_number() OVER (PARTITION BY e.label ORDER BY ${OracleMath.stableRoundSql(cosSql("e.embedding", "q.q_emb"), 6)} DESC, e.vec_id) AS rn
       | FROM embeddings e, (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
       | WHERE e.vec_id <> 0)
       |WHERE rn <= 3 ORDER BY label, rank""".stripMargin
  def ivfAssignOracle: String =
    s"""WITH cent AS (
       |  SELECT c_label, list(cv ORDER BY dim) AS centroid FROM (
       |    SELECT label AS c_label, i - 1 AS dim,
       |      ${OracleMath.stableRoundSql("avg(CAST(embedding[i] AS DOUBLE))", 8)} AS cv
       |    FROM embeddings, generate_series(1, 64) t(i) GROUP BY 1, 2)
       |  GROUP BY 1),
       |scored AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |    ${OracleMath.stableRoundSql(cosSql("e.embedding", "c.centroid"), 6)} AS sim
       |  FROM embeddings e, cent c)
       |SELECT vec_id, c_label AS assigned, label, c_label = label AS correct FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rn
       |  FROM scored)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin
  def ivfKnnOracle: String =
    s"""WITH $centCteSql,
       |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
       |probe AS (
       |  SELECT c_label FROM (
       |    SELECT c.c_label, ${OracleMath.stableRoundSql(cosSql("c.centroid", "q.q_emb"), 6)} AS csim
       |    FROM cent c, q)
       |  ORDER BY csim DESC, c_label LIMIT 3),
       |$assignCteSql
       |SELECT e.vec_id, e.label, ${OracleMath.stableRoundSql(cosSql("e.embedding", "q.q_emb"), 6)} AS sim
       |FROM embeddings e
       |JOIN assign a ON e.vec_id = a.vec_id
       |CROSS JOIN q
       |WHERE a.assigned IN (SELECT c_label FROM probe) AND e.vec_id <> 0
       |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin
  def vectorProfileOracle: String =
    s"""SELECT vec_id,
       | CAST(len(embedding) AS BIGINT) AS dim,
       | CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
       | ${OracleMath.stableRoundSql("sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))", 6)} AS l2,
       | ${OracleMath.stableRoundSql("list_sum(list_transform(list_zip(embedding, list_reverse(embedding)), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))", 6)} AS rev_dot
       |FROM embeddings ORDER BY vec_id""".stripMargin
  def scalarQuantizeOracle: String =
    s"""SELECT vec_id,
       | ${OracleMath.stableRoundSql("mn", 6)} AS qmin,
       | ${OracleMath.stableRoundSql("mx", 6)} AS qmax,
       | CAST(floor((CAST(embedding[1] AS DOUBLE) - mn) / scale + 0.5) AS BIGINT) AS code0,
       | ${OracleMath.stableRoundSql(
           "list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE) - (mn + floor((CAST(x AS DOUBLE) - mn) / scale + 0.5) * scale)))) / len(embedding)", 8)} AS mean_abs_err
       |FROM (SELECT vec_id, embedding,
       |        CAST(list_min(embedding) AS DOUBLE) AS mn,
       |        CAST(list_max(embedding) AS DOUBLE) AS mx,
       |        greatest((CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0, 1e-12) AS scale
       |      FROM embeddings)
       |ORDER BY vec_id""".stripMargin
  def pqCodesOracle: String = {
    val diff = "(CAST(v.subvec[i] AS DOUBLE) - c.cvec[i])"
    s"""WITH sidx AS (SELECT unnest(range(4)) AS s),
       |sv AS (
       |  SELECT vec_id, label, s, list_slice(embedding, s*16 + 1, s*16 + 16) AS subvec
       |  FROM embeddings CROSS JOIN sidx),
       |cbd AS (
       |  SELECT label AS c_label, s, d,
       |   ${OracleMath.stableRoundSql("avg(CAST(subvec[d] AS DOUBLE))", 8)} AS cv
       |  FROM sv CROSS JOIN (SELECT unnest(range(1, 17)) AS d)
       |  GROUP BY 1, 2, 3),
       |cb AS (SELECT c_label, s, list(cv ORDER BY d) AS cvec FROM cbd GROUP BY 1, 2),
       |scored AS (
       |  SELECT v.vec_id, v.s, c.c_label,
       |   ${OracleMath.stableRoundSql(s"list_sum(list_transform(range(1, 17), i -> $diff * $diff))", 6)} AS dist2
       |  FROM sv v JOIN cb c ON c.s = v.s),
       |best AS (
       |  SELECT vec_id, s, c_label, dist2,
       |   row_number() OVER (PARTITION BY vec_id, s ORDER BY dist2, c_label) AS rn
       |  FROM scored)
       |SELECT vec_id,
       | CAST(max(CASE WHEN s = 0 THEN c_label END) AS BIGINT) AS c0,
       | CAST(max(CASE WHEN s = 1 THEN c_label END) AS BIGINT) AS c1,
       | CAST(max(CASE WHEN s = 2 THEN c_label END) AS BIGINT) AS c2,
       | CAST(max(CASE WHEN s = 3 THEN c_label END) AS BIGINT) AS c3,
       | ${OracleMath.stableRoundSql(
           "max(CASE WHEN s = 0 THEN dist2 END) + max(CASE WHEN s = 1 THEN dist2 END)"
             + " + max(CASE WHEN s = 2 THEN dist2 END) + max(CASE WHEN s = 3 THEN dist2 END)", 6)} AS err
       |FROM best WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }
  def pqAdcKnnOracle: String = {
    val diff = "(CAST(v.subvec[i] AS DOUBLE) - c.cvec[i])"
    val qdiff = "(CAST(q.subvec[i] AS DOUBLE) - c.cvec[i])"
    s"""WITH sidx AS (SELECT unnest(range(4)) AS s),
       |sv AS (
       |  SELECT vec_id, label, s, list_slice(embedding, s*16 + 1, s*16 + 16) AS subvec
       |  FROM embeddings CROSS JOIN sidx),
       |cbd AS (
       |  SELECT label AS c_label, s, d,
       |   ${OracleMath.stableRoundSql("avg(CAST(subvec[d] AS DOUBLE))", 8)} AS cv
       |  FROM sv CROSS JOIN (SELECT unnest(range(1, 17)) AS d)
       |  GROUP BY 1, 2, 3),
       |cb AS (SELECT c_label, s, list(cv ORDER BY d) AS cvec FROM cbd GROUP BY 1, 2),
       |best AS (
       |  SELECT v.vec_id AS vec_id, v.s AS s, c.c_label AS c_label,
       |   row_number() OVER (PARTITION BY v.vec_id, v.s ORDER BY
       |     ${OracleMath.stableRoundSql(s"list_sum(list_transform(range(1, 17), i -> $diff * $diff))", 6)}, c.c_label) AS rn
       |  FROM sv v JOIN cb c ON c.s = v.s),
       |qdt AS (
       |  SELECT c.s, c.c_label,
       |   ${OracleMath.stableRoundSql(s"list_sum(list_transform(range(1, 17), i -> $qdiff * $qdiff))", 6)} AS qd
       |  FROM (SELECT s, subvec FROM sv WHERE vec_id = 0) q JOIN cb c ON c.s = q.s)
       |SELECT b.vec_id,
       | ${OracleMath.stableRoundSql(
           "max(CASE WHEN b.s = 0 THEN qd END) + max(CASE WHEN b.s = 1 THEN qd END)"
             + " + max(CASE WHEN b.s = 2 THEN qd END) + max(CASE WHEN b.s = 3 THEN qd END)", 6)} AS adist
       |FROM best b JOIN qdt ON qdt.s = b.s AND qdt.c_label = b.c_label
       |WHERE b.rn = 1 AND b.vec_id <> 0
       |GROUP BY b.vec_id ORDER BY adist, b.vec_id LIMIT 10""".stripMargin
  }
  def sqlSurfaceTopNormsOracle: String =
    s"""SELECT label, vec_id, CAST(rnk AS BIGINT) AS rnk, l2
       |FROM (SELECT label, vec_id,
       |             row_number() OVER (PARTITION BY label ORDER BY l2 DESC, vec_id) AS rnk,
       |             l2
       |      FROM (SELECT label, vec_id,
       |                   ${OracleMath.stableRoundSql(
                             "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))", 6)} AS l2
       |            FROM embeddings))
       |WHERE rnk <= 3 ORDER BY label, rnk""".stripMargin
  def kmeansOracle: String = {
    val off = KmOff
    val q = s"${KmQ.toLong}.0"
    def assignCte(k: Int, centCte: String) =
      s"""d$k AS (SELECT v.vec_id, c.cid, ${dist2Sql("v.embedding", "c.cent")} AS dist
         |        FROM v, $centCte c),
         |s$k AS (SELECT vec_id, cid, dist FROM (
         |          SELECT vec_id, cid, dist,
         |                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |          FROM d$k) WHERE rn = 1)""".stripMargin
    val roundCtes = (1 to KmRounds).map { k =>
      s"""${assignCte(k, s"c${k - 1}")},
         |u$k AS (SELECT s.cid, i.i AS dim,
         |          (sum(CAST(floor(CAST(e.embedding[i.i] AS DOUBLE) * $q) AS BIGINT) + $off)
         |           // count(*)) - $off AS ci
         |        FROM s$k s JOIN v e USING (vec_id)
         |        CROSS JOIN generate_series(1, 64) AS i(i)
         |        GROUP BY 1, 2),
         |c$k AS (SELECT p.cid, coalesce(u.cent, p.cent) AS cent
         |        FROM c${k - 1} p LEFT JOIN (
         |          SELECT cid, list(CAST(ci AS DOUBLE) / $q ORDER BY dim) AS cent
         |          FROM u$k GROUP BY cid) u USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
       |       FROM v WHERE vec_id < $KmK),
       |$roundCtes,
       |${assignCte(KmRounds + 1, s"c$KmRounds")}
       |SELECT vec_id, cid AS cluster, ${OracleMath.stableRoundSql("dist", 6)} AS dist_r
       |FROM s${KmRounds + 1} ORDER BY vec_id""".stripMargin
  }
}
