package graft.ops

import graft.ops.Caches.Tracked

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data preparation operators: deterministic dataset splitting and
  * TF-IDF term weighting over the documents corpus.
  *
  * Both are 100 TB-shaped: the split is a pure per-row expression (no
  * shuffle, no RNG state, reproducible across reruns/retries — a seeded
  * `rand()` changes under task retry and partition count, a hash of the key
  * never does), and TF-IDF is two shared-scan aggregations joined back with
  * a broadcast (document frequency is vocabulary-sized, tiny next to the
  * corpus).
  */
object SamplingOps {

  /** Deterministic 80/20 train/test split by Knuth multiplicative hash of
    * the stable document key, reported as per-(split, lang) counts + mean
    * length — the reproducible alternative to `randomSplit` (whose sampling
    * is seed+partition-dependent) for corpus curation.
    */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split",
        when((col("doc_id") * lit(2654435761L)) % 100L < 80L, lit("train"))
          .otherwise(lit("test")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("mean_chars"))
      .orderBy(col("split"), col("lang"))

  /** Top TF-IDF term per document. TF and DF come from the same tokenized
    * scan; the winner per document is chosen by the INTEGER ordering
    * (tf desc, df asc, term asc) — rarest-heaviest term with a total
    * tiebreak — so ranking never compares floats across engines; the float
    * tf·ln(N/df) weight is computed only for the already-chosen row
    * ([[OracleMath.stableRound]]ed).
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // persisted: TF and DF are two aggregations over the SAME exploded token
    // stream — without the persist the scan + explode runs twice
    val tokens = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .persistTracked()
    val tf = tokens.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = tokens.distinct().groupBy(col("word")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("word").asc)
    tf.join(broadcast(dfreq), "word")
      .crossJoin(broadcast(total))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("word").as("top_term"), col("tf"), col("df"),
        OracleMath.stableRound(
          col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("tfidf"))
      .orderBy(col("doc_id"))
  }

  /** Source-mixture sampling: each source gets its own deterministic
    * sampling rate (the training-mixture knob — upweight curated sources,
    * downsample crawl), applied as a pure per-row hash predicate. Like
    * [[trainTestSplit]] this is shuffle-free and retry-stable, and the
    * sample membership hash uses a DIFFERENT multiplier than the split hash
    * so mixture and split stay statistically independent. At production key
    * ranges the multiplicative hash would be `xxhash64` (the small constant
    * here keeps the oracle arithmetic exactly reproducible in SQL).
    * Rates are derived from the source id (25% + 5·(src mod 10)) so the
    * operator needs no side table; a real pipeline would broadcast-join a
    * tiny weights dimension instead — same plan shape.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val srcnum = regexp_extract(col("source"), "(\\d+)", 1).cast("long")
    val rate = lit(25L) + lit(5L) * pmod(srcnum, lit(10L))
    val sampled = pmod(col("doc_id") * lit(1103515245L), lit(100L)) < rate
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(sampled, 1L).otherwise(0L)).as("n_sampled"),
        min(rate).as("rate_pct"))
      .orderBy(col("source"))
  }

  /** Deterministic global shuffle + sharding for training export: every doc
    * gets a pseudo-random but REPRODUCIBLE position — shard = first nibble
    * of md5(doc_id) (uniform over 16 shards), position = rank of the md5
    * digest within the shard. This is the "shuffle the corpus before
    * training" step done the only way that survives a distributed retry:
    * the order is a pure function of the data (identical across engines,
    * reruns, partition counts and cluster sizes), never of an RNG seed
    * threaded through tasks.
    *
    * Plan shape at 100 TB: the window's partitionBy(shard) is ONE hash
    * shuffle into shards followed by a per-shard sort — no global sort, and
    * shard count scales to thousands to bound per-shard sort memory. Writing
    * `partitionBy(shard)` + sortWithinPartitions of the same plan gives the
    * on-disk training shards directly.
    */
  /** Per-shard export manifest — the integrity record a training job checks
    * before consuming shards written under [[shardShuffle]]'s deterministic
    * layout: document and token counts plus an ORDER-INDEPENDENT content
    * checksum (the SUM of each document's 48-bit md5-prefix integer — the
    * q140/q150 deterministic-randomness primitive). Sum is commutative, so
    * the checksum is invariant to partitioning, task order, and retries,
    * yet any dropped/duplicated/substituted document changes it; both
    * engines compute it in exact integer arithmetic (≤ 2⁴⁸ per term, far
    * below the 2⁶³ overflow line at any realistic shard size).
    *
    * Plan shape for 100 TB: ONE pass over the corpus, one 16-way (or
    * 4096-way — widen the nibble) shuffle on the derived shard key; the
    * manifest is what makes a resumable multi-job export verifiable without
    * re-reading the data.
    */
  def exportManifest(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("h"),
        conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long").as("chk"))
      .withColumn("shard",
        (instr(lit("0123456789abcdef"), substring(col("h"), 1, 1)) - 1).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("chk")).as("content_checksum"))
      .orderBy(col("shard"))

  /** Compaction planning target: aim ≈ [[CompactionTargetDiv]] merged
    * outputs (target bytes = ⌈total∕div⌉ — data-derived so the plan stays
    * non-trivial at every SF; single-sourced into the twin).
    */
  val CompactionTargetDiv = 6L

  /** Small-file compaction PLANNER — the q158 manifest's shards packed into
    * near-target merge groups by next-fit-decreasing bin packing (sort by
    * size descending, open a new group whenever the next shard would
    * overflow the target). [[Compaction.compactParquet]] is the executor
    * (⌈bytes∕target⌉ coalesce); this is the inspectable plan that says
    * WHICH inputs merge into WHICH output and how full each output lands —
    * the audit a lakehouse maintenance job publishes before rewriting
    * petabytes.
    *
    * Scale shape: the corpus-sized work is the one shard-stats hash
    * aggregate (q158's shuffle); the packing walk is sequentially dependent
    * (each assignment depends on the running fill), so like q197/q238 it
    * runs as a row-local `aggregate()` fold — over the MANIFEST-sized shard
    * list (file counts, never corpus rows). The DuckDB twin walks the same
    * order with a recursive CTE carrying (gid, fill); all arithmetic is
    * exact integers, so assignments and fill ratios hash-match.
    */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val shards = Tables.documents(spark, dir)
      .select(size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (instr(lit("0123456789abcdef"),
          substring(md5(col("doc_id").cast("string")), 1, 1)) - 1).cast("long").as("shard"))
      .groupBy(col("shard")).agg(sum(col("n_tokens")).as("n_tokens"))
    val folded = shards
      .select(struct((-col("n_tokens")).as("negt"), col("shard"), col("n_tokens")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("cs"))
      .withColumn("total", expr("aggregate(cs, 0L, (a, x) -> a + x.n_tokens)"))
      .withColumn("target",
        expr(s"(total + ${CompactionTargetDiv - 1}L) DIV ${CompactionTargetDiv}L"))
    val foldExpr =
      """aggregate(cs,
        |  named_struct('gid', 0L, 'fill', 0L,
        |    'out', CAST(array() AS ARRAY<STRUCT<shard: BIGINT, n_tokens: BIGINT, gid: BIGINT>>)),
        |  (st, x) -> CASE WHEN st.gid = 0L OR st.fill + x.n_tokens > target
        |    THEN named_struct('gid', st.gid + 1L, 'fill', x.n_tokens,
        |           'out', array_append(st.out,
        |             named_struct('shard', x.shard, 'n_tokens', x.n_tokens, 'gid', st.gid + 1L)))
        |    ELSE named_struct('gid', st.gid, 'fill', st.fill + x.n_tokens,
        |           'out', array_append(st.out,
        |             named_struct('shard', x.shard, 'n_tokens', x.n_tokens, 'gid', st.gid)))
        |  END,
        |  st -> st.out)""".stripMargin
    folded
      .select(col("target"), posexplode(expr(foldExpr)).as(Seq("pos", "a")))
      .groupBy(col("a.gid").as("gid"))
      .agg(count(lit(1)).as("n_shards"), sum(col("a.n_tokens")).as("group_tokens"),
        max(col("target")).as("target"))
      .select(col("gid"), col("n_shards"), col("group_tokens"), col("target"),
        OracleMath.stableRound(
          col("group_tokens").cast("double") / col("target").cast("double"), 4).as("fill_pct"))
      .orderBy(col("gid"))
  }

  val compactionPlanOracle: String = {
    val div = CompactionTargetDiv
    s"""WITH RECURSIVE d AS (
       |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) AS shard
       |  FROM documents),
       |sh AS (SELECT shard, CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
       |t AS (SELECT CAST((sum(n_tokens) + ${div - 1}) // $div AS BIGINT) AS target FROM sh),
       |ord AS (SELECT shard, n_tokens,
       |          CAST(row_number() OVER (ORDER BY n_tokens DESC, shard) AS BIGINT) AS i
       |        FROM sh),
       |walk AS (
       |  SELECT o.i, o.shard, o.n_tokens, CAST(1 AS BIGINT) AS gid, o.n_tokens AS fill
       |  FROM ord o WHERE o.i = 1
       |  UNION ALL
       |  SELECT o.i, o.shard, o.n_tokens,
       |    CASE WHEN w.fill + o.n_tokens > t.target THEN w.gid + 1 ELSE w.gid END,
       |    CASE WHEN w.fill + o.n_tokens > t.target THEN o.n_tokens ELSE w.fill + o.n_tokens END
       |  FROM walk w JOIN ord o ON o.i = w.i + 1 CROSS JOIN t)
       |SELECT gid, count(*) AS n_shards, CAST(sum(n_tokens) AS BIGINT) AS group_tokens,
       |  CAST(max(target) AS BIGINT) AS target,
       |  ${OracleMath.stableRoundSql("CAST(sum(n_tokens) AS DOUBLE) / CAST(max(target) AS DOUBLE)", 4)} AS fill_pct
       |FROM walk CROSS JOIN t GROUP BY gid ORDER BY gid""".stripMargin
  }

  /** Divergence-simulation modulus: replica B "missed" every doc with
    * doc_id ≡ 0 (mod this) — a deterministic stand-in for lost writes,
    * single-sourced into the twin.
    */
  val ReplicaDropMod = 251L

  /** Anti-entropy repair planner — the q158 manifest compared across two
    * replicas: shards whose order-independent content checksums diverge are
    * exactly the ones a repair job must re-ship, and the doc/token deltas
    * price that repair BEFORE any data moves (the Merkle-style
    * compare-manifests-not-data pattern; at 100 TB the comparison touches
    * 2×shards manifest rows, never the corpus). Replica B is derived
    * deterministically (docs with doc_id ≡ 0 mod [[ReplicaDropMod]]
    * missing), so the oracle replays both manifests; the checksum is q158's
    * commutative md5-prefix sum, which catches CONTENT divergence even when
    * doc counts happen to agree.
    */
  def replicaDivergence(spark: SparkSession, dir: String): DataFrame = {
    def manifest(df: DataFrame): DataFrame = df
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (instr(lit("0123456789abcdef"),
          substring(md5(col("doc_id").cast("string")), 1, 1)) - 1).cast("long").as("shard"),
        conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long").as("chk"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("chk")).as("checksum"))
    val docs = Tables.documents(spark, dir)
    val a = manifest(docs)
    val b = manifest(docs.filter(pmod(col("doc_id"), lit(ReplicaDropMod)) =!= 0L))
      .select(col("shard"), col("n_docs").as("n_docs_b"),
        col("n_tokens").as("n_tokens_b"), col("checksum").as("checksum_b"))
    a.join(b, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("n_docs"), lit(0L)).as("docs_a"),
        coalesce(col("n_docs_b"), lit(0L)).as("docs_b"),
        (coalesce(col("checksum"), lit(-1L)) === coalesce(col("checksum_b"), lit(-2L)))
          .as("in_sync"),
        (coalesce(col("n_docs"), lit(0L)) - coalesce(col("n_docs_b"), lit(0L)))
          .as("repair_docs"),
        (coalesce(col("n_tokens"), lit(0L)) - coalesce(col("n_tokens_b"), lit(0L)))
          .as("repair_tokens"))
      .orderBy(col("shard"))
  }

  val replicaDivergenceOracle: String =
    s"""WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) AS shard,
       |    ('0x' || substr(md5(text), 1, 12))::BIGINT AS chk
       |  FROM documents),
       |a AS (SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |        CAST(sum(chk) AS BIGINT) AS checksum
       |      FROM d GROUP BY 1),
       |b AS (SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |        CAST(sum(chk) AS BIGINT) AS checksum
       |      FROM d WHERE doc_id % $ReplicaDropMod <> 0 GROUP BY 1)
       |SELECT coalesce(a.shard, b.shard) AS shard,
       |  CAST(coalesce(a.n_docs, 0) AS BIGINT) AS docs_a,
       |  CAST(coalesce(b.n_docs, 0) AS BIGINT) AS docs_b,
       |  coalesce(a.checksum, -1) = coalesce(b.checksum, -2) AS in_sync,
       |  CAST(coalesce(a.n_docs, 0) - coalesce(b.n_docs, 0) AS BIGINT) AS repair_docs,
       |  CAST(coalesce(a.n_tokens, 0) - coalesce(b.n_tokens, 0) AS BIGINT) AS repair_tokens
       |FROM a FULL OUTER JOIN b ON a.shard = b.shard
       |ORDER BY shard""".stripMargin

  def shardShuffle(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      .withColumn("shard",
        (instr(lit("0123456789abcdef"), substring(col("h"), 1, 1)) - 1).cast("long"))
    docs
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Uniform per-group sampling WITHOUT a shuffle-the-world sort: the k
    * sample members per group are the k events with the smallest
    * `md5(event_id)` prefix — order statistics of a uniform hash are a
    * uniform sample without replacement, and "k smallest hashes" is a
    * BOUNDED mergeable aggregate (the [[graft.functions.TopKByScore]] heap,
    * score = −hash), so each partition contributes at most k candidates per
    * group and partials merge spill-free. The window/row_number alternative
    * (the oracle) shuffles and sorts EVERY row; this plan moves k rows per
    * partition per group — at 100 TB that is the difference between a full
    * fact-table shuffle and kilobytes. Same hash-order-statistics trick
    * underlies bottom-k MinHash (q37); here it yields an exact,
    * engine-portable sample: the 48-bit md5 prefix is integer-exact in a
    * Double and identical in DuckDB.
    */
  def uniformGroupSample(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val h = conv(substring(md5(col("event_id").cast("string")), 1, 12), 16, 10).cast("long")
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), h.as("h"))
      .groupBy(col("event_type"))
      .agg(graft.functions.VectorFunctions.topk(
          -col("h").cast("double"), col("event_id"), k).as("ids"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("n_events"),
        posexplode(col("ids")).as(Seq("i", "event_id")))
      .select(col("event_type"), (col("i") + 1).cast("long").as("rank"),
        col("event_id"), col("n_events"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** Budget-apportioned per-source sampling: a GLOBAL sample budget (e.g.
    * "100 docs for the eval set") split across sources by exact
    * largest-remainder (Hamilton) apportionment — every source gets
    * ⌊B·n/N⌋, and the B − Σ⌊·⌋ leftover seats go to the largest integer
    * remainders (ties by source name) — then each source contributes its k
    * members deterministically (smallest 48-bit md5 prefixes, the same
    * hash-order-statistics uniform sample as [[uniformGroupSample]]).
    * Unlike per-source RATES ([[mixtureSample]]), the total is exactly B by
    * construction — the knob an eval-set or annotation-budget pipeline
    * needs. All allocation arithmetic is integer-exact (B·n DIV N), so both
    * engines compute identical seats.
    *
    * Plan shape at 100 TB: allocation runs on the GROUPS table (tiny — one
    * aggregate scan), so its unpartitioned ranking window is 20 rows, not
    * the corpus; the alloc table broadcast-joins back; the per-source pick
    * is one hash shuffle + per-source sort of (id, hash) pairs only. The
    * variable per-group k is why this uses the window rather than the
    * bounded [[graft.functions.TopKByScore]] heap (whose k is plan-constant;
    * with a uniform k that heap is the cheaper plan — q141).
    */
  def budgetSample(spark: SparkSession, dir: String, budget: Int = 100): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sizes = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val tot = docs.agg(count(lit(1)).as("total"))
    val alloc0 = sizes.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($budget * n) DIV total"))
      .withColumn("rem", expr(s"$budget * n - (($budget * n) DIV total) * total"))
    val leftover = alloc0.agg((lit(budget.toLong) - sum(col("base"))).as("leftover"))
    val alloc = alloc0
      // groups-sized table: the global (unpartitioned) window is fine HERE
      .withColumn("rk", row_number().over(Window.orderBy(col("rem").desc, col("source"))))
      .crossJoin(broadcast(leftover))
      .select(col("source"), col("n").as("n_source"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("k_alloc"))
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10).cast("long")
    docs.select(col("doc_id"), col("source"), h.as("h"))
      .withColumn("pick", row_number()
        .over(Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .join(broadcast(alloc), "source")
      .filter(col("pick") <= col("k_alloc"))
      .select(col("doc_id"), col("source"), col("pick"), col("k_alloc"), col("n_source"))
      .orderBy(col("doc_id"))
  }

  /** Weight-proportional sampling WITHOUT replacement (Efraimidis–Spirakis
    * via exponential clocks): each doc draws a deterministic uniform
    * u = (h + ½)/2⁴⁸ from its 48-bit md5 prefix and gets selection key
    * ln(u)/w with w = n_chars; the k LARGEST keys are exactly a PPS sample
    * without replacement (ln(u)/w is −Exp(w); taking the k largest keys =
    * the k smallest exponential clocks = sequential weighted sampling).
    * This is the token-budget-aware cousin of [[uniformGroupSample]]: docs
    * are picked proportionally to their length, the right default when the
    * unit of value is a TOKEN (an eval slice of k docs weighted by length
    * covers k·E[len] tokens without biasing toward tiny docs).
    *
    * Scale shape: the key is row-local (no shuffle to score), and top-k by
    * key plans as `TakeOrderedAndProject` — bounded per-partition heaps, no
    * global sort; the only global structure is k rows on the driver. The
    * rank window runs on the k selected rows, not the corpus. ln() is the
    * one transcendental — both engines evaluate it on the SAME double
    * (already relied on by q84's ln-based tf-idf oracle), and the output
    * key is stable-rounded at 8 dp so a last-ulp libm divergence cannot
    * flip the hash.
    */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
      .cast("long").cast("double")
    val u = (h + lit(0.5)) / lit(TwoPow48)
    val key = log(u) / col("n_chars")
    val top = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"), key.as("sel_key"))
      .orderBy(col("sel_key").desc, col("doc_id"))
      .limit(k)
    top
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("sel_key").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("n_chars"),
        OracleMath.stableRound(col("sel_key"), 8).as("sel_key_r"))
      .orderBy(col("rank"))
  }

  /** 2⁴⁸ — the md5-prefix hash domain used for deterministic uniforms. */
  private val TwoPow48 = 281474976710656.0

  /** KMV sketch size (rel. error ≈ 1∕√62 ≈ 13 %) — single-sourced into the
    * q263 twin.
    */
  val KmvK = 64

  /** Per-event-type distinct-user estimation by the [[graft.functions.KmvSketch]]
    * k-minimum-values aggregate, audited against the exact count: the
    * estimate `(k−1)·2⁴⁸ ∕ h₍ₖ₎` from the k smallest distinct 48-bit md5
    * hashes (exact count when a group has < k distinct values), plus the
    * relative error. The production path at 100 TB is the SKETCH — each
    * partition ships ≤ k longs per group, partial-aggregated, where
    * `count(DISTINCT)` expands and shuffles every distinct value; the exact
    * column here is the audit (the q161-recall pattern: measure the
    * approximation against ground truth IN the query so the oracle pins
    * both). Unlike HLL (q93's approx_distinct, engine-opaque internals —
    * band-check only), KMV is deterministic given the hash column, so the
    * DuckDB twin reproduces the sketch EXACTLY by ranking distinct hashes.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10).cast("long")
    val est = when(col("n_kmv") < KmvK, col("n_kmv").cast("double"))
      .otherwise(lit((KmvK - 1).toDouble) * lit(281474976710656.0) / col("h_k").cast("double"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), h.as("h"))
      .groupBy(col("event_type"))
      .agg(graft.functions.VectorFunctions.kmv(col("h"), KmvK).as("kmv"),
        countDistinct(col("user_id")).as("n_exact"))
      .select(col("event_type"),
        size(col("kmv")).cast("long").as("n_kmv"),
        element_at(col("kmv"), size(col("kmv"))).as("h_k"),
        col("n_exact"),
        OracleMath.stableRound(est, 4).as("est_distinct"),
        OracleMath.stableRound(
          abs(est - col("n_exact").cast("double")) / col("n_exact").cast("double"), 4)
          .as("rel_err"))
      .orderBy(col("event_type"))
  }

  val kmvDistinctOracle: String =
    s"""WITH hv AS (SELECT event_type,
       |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
       |  FROM events GROUP BY 1, 2),
       |r AS (SELECT event_type, h,
       |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |      FROM hv),
       |k AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kmv, max(h) AS h_k
       |      FROM r WHERE rn <= $KmvK GROUP BY 1),
       |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
       |       FROM events GROUP BY 1),
       |s AS (SELECT k.event_type, k.n_kmv, k.h_k, ex.n_exact,
       |        CASE WHEN k.n_kmv < $KmvK THEN CAST(k.n_kmv AS DOUBLE)
       |             ELSE CAST(${KmvK - 1} AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(k.h_k AS DOUBLE)
       |        END AS est
       |      FROM k JOIN ex ON k.event_type = ex.event_type)
       |SELECT event_type, n_kmv, h_k, n_exact,
       |  ${OracleMath.stableRoundSql("est", 4)} AS est_distinct,
       |  ${OracleMath.stableRoundSql("abs(est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)", 4)} AS rel_err
       |FROM s ORDER BY event_type""".stripMargin

  /** KMV sketch SET OPERATIONS — the reason warehouses keep KMV synopses
    * rather than plain distinct counts (Beyer et al., SIGMOD'07): two
    * groups' sketches combine WITHOUT re-touching the data. For every
    * event-type pair, the union sketch is the k smallest of `K_A ∪ K_B`;
    * `|A∪B|` estimates as `(k−1)·2⁴⁸∕h₍ₖ₎` on it, the Jaccard as the
    * fraction ρ of union-sketch members present in BOTH input sketches,
    * and `|A∩B|` as `ρ·|A∪B|` — when the union has < k distinct hashes the
    * sketch IS the set and every estimate is exact by construction. The
    * q161/q263 measure-the-approximation discipline: the exact pair overlap
    * (q244's machinery) rides along and the oracle pins estimate AND error.
    *
    * At 100 TB the sketch path aggregates ≤ k longs per group per
    * partition and combines pairs on a |types|²-row driver-sized table —
    * the exact path's user-level self-join exists here only as the audit.
    * KMV is deterministic given the hash column, so the twin reproduces
    * every sketch member, union slice and ρ exactly with list kernels.
    */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10).cast("long")
    val sk = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), h.as("h"))
      .groupBy(col("event_type"))
      .agg(graft.functions.VectorFunctions.kmv(col("h"), KmvK).as("kmv"),
        countDistinct(col("user_id")).as("n"))
    val a = sk.select(col("event_type").as("type_a"), col("kmv").as("kmv_a"), col("n").as("n_a"))
    val b = sk.select(col("event_type").as("type_b"), col("kmv").as("kmv_b"), col("n").as("n_b"))
    val ut = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val inter = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    val u = slice(array_sort(array_union(col("kmv_a"), col("kmv_b"))), 1, KmvK)
    val estU = when(col("n_u") < KmvK, col("n_u").cast("double"))
      .otherwise(lit((KmvK - 1).toDouble) * lit(281474976710656.0) / col("h_k").cast("double"))
    val rho = col("n_match").cast("double") / col("n_u").cast("double")
    val jac = col("n_both").cast("double") /
      (col("n_a") + col("n_b") - col("n_both")).cast("double")
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .withColumn("u", u)
      .withColumn("n_u", size(col("u")).cast("long"))
      .withColumn("h_k", element_at(col("u"), size(col("u"))))
      .withColumn("n_match",
        size(filter(col("u"), x =>
          array_contains(col("kmv_a"), x) && array_contains(col("kmv_b"), x))).cast("long"))
      .join(inter, Seq("type_a", "type_b"), "left")
      .na.fill(0L, Seq("n_both"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        col("n_u"), col("n_match"),
        OracleMath.stableRound(jac, 6).as("jaccard"),
        OracleMath.stableRound(rho, 6).as("kmv_jaccard"),
        OracleMath.stableRound(rho * estU, 4).as("kmv_both"),
        OracleMath.stableRound(abs(rho - jac), 6).as("jacc_abs_err"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val kmvOverlapOracle: String = {
    val estU = s"CASE WHEN n_u < $KmvK THEN CAST(n_u AS DOUBLE) " +
      s"ELSE CAST(${KmvK - 1} AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(h_k AS DOUBLE) END"
    val rho = "CAST(n_match AS DOUBLE) / CAST(n_u AS DOUBLE)"
    val jac = "CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE)"
    s"""WITH hv AS (SELECT event_type,
       |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
       |  FROM events GROUP BY 1, 2),
       |r AS (SELECT event_type, h,
       |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |      FROM hv),
       |sk AS (SELECT event_type, list(h ORDER BY h) AS kmv
       |       FROM r WHERE rn <= $KmvK GROUP BY 1),
       |sz AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n
       |       FROM events GROUP BY 1),
       |ut AS (SELECT DISTINCT user_id, event_type FROM events),
       |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |         CAST(count(*) AS BIGINT) AS n_both
       |       FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
       |       GROUP BY 1, 2),
       |pairs AS (SELECT sa.event_type AS type_a, sb.event_type AS type_b,
       |            sa.kmv AS kmv_a, sb.kmv AS kmv_b, za.n AS n_a, zb.n AS n_b
       |          FROM sk sa JOIN sk sb ON sa.event_type < sb.event_type
       |          JOIN sz za ON za.event_type = sa.event_type
       |          JOIN sz zb ON zb.event_type = sb.event_type),
       |c AS (SELECT *, list_slice(list_sort(list_distinct(list_concat(kmv_a, kmv_b))), 1, $KmvK) AS u
       |      FROM pairs),
       |d AS (SELECT type_a, type_b, n_a, n_b,
       |        CAST(len(u) AS BIGINT) AS n_u, u[len(u)] AS h_k,
       |        CAST(len(list_filter(u, x -> list_contains(kmv_a, x) AND list_contains(kmv_b, x))) AS BIGINT) AS n_match
       |      FROM c),
       |e AS (SELECT d.*, coalesce(pr.n_both, 0) AS n_both
       |      FROM d LEFT JOIN pr USING (type_a, type_b))
       |SELECT type_a, type_b, n_a, n_b, n_both, n_u, n_match,
       |  ${OracleMath.stableRoundSql(jac, 6)} AS jaccard,
       |  ${OracleMath.stableRoundSql(rho, 6)} AS kmv_jaccard,
       |  ${OracleMath.stableRoundSql(s"($rho) * ($estU)", 4)} AS kmv_both,
       |  ${OracleMath.stableRoundSql(s"abs(($rho) - ($jac))", 6)} AS jacc_abs_err
       |FROM e ORDER BY type_a, type_b""".stripMargin
  }

  /** q284 — the [[graft.functions.KmvCountDistinctRewrite]] consumer: a
    * PLAIN `count(DISTINCT user_id)` written with the public DataFrame API,
    * executed in a session clone that opts into the optimizer rewrite. The
    * query text never mentions a sketch — the OPTIMIZER swaps in the KMV
    * aggregate (plan pinned by spec: KmvSketch present, no distinct
    * planning) — yet the result stays deterministic, so this is still a
    * hash-gated query: the twin reproduces the estimate by ranking distinct
    * md5-prefix hashes. A second untouched aggregate (`count`) rides the
    * same Aggregate node to prove rewritten and plain functions coexist.
    *
    * The session CLONE (`newSession`: same SparkContext + compiled caches,
    * own SQLConf) is the laziness-correct scope for the flag: set-and-
    * restore on the shared session would race the optimization that only
    * happens when the frame is finally executed, and a persistent flag
    * would silently rewrite every OTHER query's `count(DISTINCT)`.
    */
  def kmvRewriteDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvCountDistinctRewrite
    val s2 = spark.newSession()
    s2.conf.set(KmvCountDistinctRewrite.FlagKey, "true")
    graft.GraftExtensions.install(s2)
    Tables.events(s2, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("du_sketch"),
        count(col("user_id")).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** The q284 twin: the estimate the REWRITTEN plan must produce, built
    * from first principles (rank distinct hashes, keep the k smallest).
    * `floor` mirrors Spark's truncating double→bigint cast (positive
    * domain); K is single-sourced from the rule.
    */
  val kmvRewriteOracle: String = {
    val k = graft.functions.KmvCountDistinctRewrite.K
    s"""WITH hv AS (SELECT event_type,
       |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
       |  FROM events GROUP BY 1, 2),
       |r AS (SELECT event_type, h,
       |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM hv),
       |k AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kmv, max(h) AS h_k
       |      FROM r WHERE rn <= $k GROUP BY 1),
       |ev AS (SELECT event_type, CAST(count(user_id) AS BIGINT) AS n_events
       |       FROM events GROUP BY 1)
       |SELECT k.event_type,
       |  CASE WHEN n_kmv < $k THEN n_kmv
       |       ELSE CAST(floor(CAST(${k - 1} AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
       |                       / CAST(h_k AS DOUBLE)) AS BIGINT) END AS du_sketch,
       |  n_events
       |FROM k JOIN ev ON k.event_type = ev.event_type
       |ORDER BY k.event_type""".stripMargin
  }

  /** q304 — the MULTI-COLUMN arm of the KMV rewrite: a plain
    * `count(DISTINCT user_id, event_type)` per day (distinct active
    * (user, type) combinations — the engagement-breadth metric), written
    * with the public API and rewritten by the flag-gated optimizer rule
    * onto one sketch of the LENGTH-PREFIXED tuple encoding
    * (`len(a):a|len(b):b|` — collision-free where a bare separator join is
    * not). Same session-clone scoping as q284; the twin replays the exact
    * encoding, so the estimate stays hash-gated.
    */
  def kmvRewriteTuple(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvCountDistinctRewrite
    val s2 = spark.newSession()
    s2.conf.set(KmvCountDistinctRewrite.FlagKey, "true")
    graft.GraftExtensions.install(s2)
    Tables.events(s2, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(countDistinct(col("user_id"), col("event_type")).as("du_pairs"),
        count(lit(1)).as("n_events"))
      .orderBy(col("day"))
  }

  /** The q304 twin — the tuple encoding replayed verbatim, then the q284
    * rank-the-distinct-hashes estimate.
    */
  val kmvRewriteTupleOracle: String = {
    val k = graft.functions.KmvCountDistinctRewrite.K
    val key = "CAST(length(CAST(user_id AS VARCHAR)) AS VARCHAR) || ':' || CAST(user_id AS VARCHAR) || '|' || " +
      "CAST(length(event_type) AS VARCHAR) || ':' || event_type || '|'"
    s"""WITH hv AS (SELECT date_trunc('day', ts) AS day,
       |    ('0x' || substr(md5($key), 1, 12))::BIGINT AS h
       |  FROM events GROUP BY 1, 2),
       |r AS (SELECT day, h,
       |        row_number() OVER (PARTITION BY day ORDER BY h) AS rn FROM hv),
       |k AS (SELECT day, CAST(count(*) AS BIGINT) AS n_kmv, max(h) AS h_k
       |      FROM r WHERE rn <= $k GROUP BY 1),
       |ev AS (SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n_events
       |       FROM events GROUP BY 1)
       |SELECT k.day AS day,
       |  CASE WHEN n_kmv < $k THEN n_kmv
       |       ELSE CAST(floor(CAST(${k - 1} AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
       |                       / CAST(h_k AS DOUBLE)) AS BIGINT) END AS du_pairs,
       |  n_events
       |FROM k JOIN ev ON k.day = ev.day
       |ORDER BY day""".stripMargin
  }

  /** k-center coreset size (the greedy 2-approximation's round count). */
  val KCenterK = 8

  /** q296 — farthest-point (k-center greedy) coreset selection over the
    * embedding table: pick the [[KCenterK]] most MUTUALLY DISTANT vectors —
    * the classic 2-approximation to the k-center cover, and the
    * diversity-sampling primitive for training-data selection (pick
    * exemplars that span the space, where uniform sampling oversamples
    * dense regions; the query-free complement of q238's MMR). Also reports
    * each pick's selection radius — the max-min distance at the moment it
    * was chosen, i.e. the cover radius the coreset achieves as k grows.
    *
    * Scale shape: K synchronous rounds, each ONE row-local pass — the
    * min-distance column is updated incrementally against only the single
    * newest pick (`least(md, dist²(x, newest))`), so round k costs O(N·64)
    * with a 1-row TakeOrderedAndProject argmax (never a full sort) and a
    * 1-row collect. All distances are exact BIGINT sums of squared
    * e6-quantized component differences (≤ 64·(1.1·10⁶)² ≈ 7.7·10¹³ —
    * BIGINT-safe for unit-norm embeddings at any N); the radius readout is
    * the only float. Seed = vec_id 0, so the whole trajectory is
    * deterministic and the twin replays it exactly.
    */
  def kcenterCoreset(spark: SparkSession, dir: String): DataFrame = {
    val xq = expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), xq.as("eq"))
      .persistTracked()
    // seed: vec_id 0 (deterministic), its embedding fetched once
    // bounded-collect: limit(1) seed row — exactly one row by construction
    val seedRow = base.filter(col("vec_id") === 0L).limit(1).collect()(0)
    val seedEq = seedRow.getSeq[Long](1).toArray
    def d2(pick: Array[Long]): Column = {
      val pl = array(pick.map(lit): _*)
      aggregate(
        zip_with(col("eq"), pl, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v)
    }
    var md = base.select(col("vec_id"), col("eq"), d2(seedEq).as("md"))
    val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Long])]()
    picks += ((1L, 0L, None))
    for (k <- 2 to KCenterK) {
      // bounded-collect: limit(1) argmax — exactly one row per round
      val top = md.filter(!col("vec_id").isin(picks.map(_._2).toSeq: _*))
        .orderBy(col("md").desc, col("vec_id"))
        .limit(1).collect()(0)
      val (vid, eqArr, radius) =
        (top.getLong(0), top.getSeq[Long](1).toArray, top.getLong(2))
      picks += ((k.toLong, vid, Some(radius)))
      md = md.select(col("vec_id"), col("eq"),
        least(col("md"), d2(eqArr)).as("md")).checkpointTracked()
    }
    import spark.implicits._
    picks.toSeq.toDF("sel_rank", "vec_id", "radius_sq")
      .select(col("sel_rank"), col("vec_id"),
        OracleMath.stableRound(sqrt(col("radius_sq").cast("double")) / lit(1000000.0), 6)
          .as("radius"))
      .orderBy(col("sel_rank"))
  }

  /** The q296 twin — unrolled greedy rounds with the same incremental
    * `least(md, dist² to newest pick)` recurrence; MATERIALIZED so DuckDB's
    * CTE inlining doesn't re-expand the chain per round.
    */
  val kcenterCoresetOracle: String = {
    val d2 = "list_sum(list_transform(range(1, 65), i -> (a.eq[i] - b.eq[i]) * (a.eq[i] - b.eq[i])))"
    val rounds = (2 to KCenterK).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT vec_id, md FROM m${k - 1}
         |  WHERE vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
         |  ORDER BY md DESC, vec_id LIMIT 1),
         |sel$k AS MATERIALIZED (
         |  SELECT * FROM sel${k - 1}
         |  UNION ALL SELECT $k AS sel_rank, vec_id, md AS radius_sq FROM p$k),
         |m$k AS MATERIALIZED (
         |  SELECT a.vec_id, a.eq,
         |    least(a.md, $d2) AS md
         |  FROM m${k - 1} a, (SELECT e.eq FROM q e JOIN p$k USING (vec_id)) b)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS eq
       |  FROM embeddings),
       |m1 AS MATERIALIZED (
       |  SELECT a.vec_id, a.eq, $d2 AS md
       |  FROM q a, (SELECT eq FROM q WHERE vec_id = 0) b),
       |sel1 AS (SELECT 1 AS sel_rank, CAST(0 AS BIGINT) AS vec_id,
       |         CAST(NULL AS BIGINT) AS radius_sq),
       |$rounds
       |SELECT CAST(sel_rank AS BIGINT) AS sel_rank, vec_id,
       |  ${OracleMath.stableRoundSql("sqrt(CAST(radius_sq AS DOUBLE)) / 1000000.0", 6)} AS radius
       |FROM sel$KCenterK ORDER BY sel_rank""".stripMargin
  }

  /** Neyman sampling budget (total rows across all strata). */
  val NeymanBudget = 200L

  /** q297 — Neyman (variance-optimal) stratified allocation vs proportional:
    * for a fixed sample budget B, the per-source sample size that minimizes
    * the estimator variance is n_h ∝ N_h·σ_h, not n_h ∝ N_h — a source
    * whose quality/length metric barely varies needs few rows, a noisy one
    * needs many. Reported next to the proportional allocation so the table
    * shows exactly where uniform-rate sampling over- and under-samples —
    * the survey-sampling upgrade of q150's proportional apportionment.
    *
    * Parity/exactness: N_h·σ_h = √(N_h·Σx² − (Σx)²) on exact BIGINT
    * sufficient sums of the integer n_chars metric (the identity avoids the
    * per-row mean subtraction); the single sqrt is quantized to e6-integer
    * weight, after which seats are the q150 largest-remainder arithmetic —
    * all integer, total exactly B by construction. One dictionary-sized
    * aggregate; every window runs on the sources-sized table.
    */
  def neymanAllocation(spark: SparkSession, dir: String): DataFrame = {
    val b = NeymanBudget
    val stats = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
      .withColumn("wq",
        floor(sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) + lit(0.5))
          .cast("long"))
    val totals = stats.agg(sum(col("wq")).as("w_tot"), sum(col("n")).as("n_tot"))
    val alloc0 = stats.crossJoin(broadcast(totals))
      .withColumn("base", expr(s"($b * wq) DIV w_tot"))
      .withColumn("rem", expr(s"$b * wq - (($b * wq) DIV w_tot) * w_tot"))
      .withColumn("prop", expr(s"($b * n) DIV n_tot"))
    val leftover = alloc0.agg((lit(b) - sum(col("base"))).as("leftover"))
    alloc0
      // groups-sized table: the global (unpartitioned) window is fine HERE
      .withColumn("rk", row_number().over(Window.orderBy(col("rem").desc, col("source"))))
      .crossJoin(broadcast(leftover))
      .select(col("source"), col("n"),
        OracleMath.stableRound(
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            / col("n").cast("double"), 4).as("sigma"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("k_neyman"),
        col("prop").as("k_proportional"))
      .orderBy(col("source"))
  }

  /** The q297 twin — identical sufficient sums, quantized weights and
    * largest-remainder seats.
    */
  val neymanAllocationOracle: String = {
    val b = NeymanBudget
    s"""WITH stats AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(n_chars) AS BIGINT) AS sx,
       |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
       |  FROM documents GROUP BY 1),
       |w AS (SELECT *,
       |    CAST(floor(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) + 0.5) AS BIGINT) AS wq
       |  FROM stats),
       |t AS (SELECT CAST(sum(wq) AS BIGINT) AS w_tot, CAST(sum(n) AS BIGINT) AS n_tot FROM w),
       |a0 AS (SELECT w.*, ($b * wq) // w_tot AS base,
       |         $b * wq - (($b * wq) // w_tot) * w_tot AS rem,
       |         ($b * n) // n_tot AS prop
       |       FROM w, t),
       |l AS (SELECT $b - CAST(sum(base) AS BIGINT) AS leftover FROM a0),
       |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM a0)
       |SELECT source, n,
       |  ${OracleMath.stableRoundSql(
      "sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / CAST(n AS DOUBLE)", 4)} AS sigma,
       |  base + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END) AS k_neyman,
       |  prop AS k_proportional
       |FROM r, l ORDER BY source""".stripMargin
  }

  /** Number of cross-validation folds for q302. */
  val CvFolds = 5

  /** q302 — stratified k-fold assignment + fold-balance audit: documents are
    * dealt into [[CvFolds]] folds by md5 hash WITHIN each (source, lang)
    * stratum (every stratum contributes ≈ equally to every fold — the
    * hygiene `randomSplit` can't give you), then each fold is χ²-tested
    * against the pooled language distribution. A significant fold-vs-pool
    * χ² means the CV estimate will wobble for reasons that have nothing to
    * do with the model. Deterministic like q83/q140: re-running the
    * pipeline reproduces the exact folds.
    *
    * Scale shape: assignment is a pure per-row hash expression (no state,
    * no window); both audits are one (fold, lang)-keyed dictionary
    * aggregate + a langs-sized broadcast back. χ² from exact integer
    * marginals (the q196/q259 fixed-expression treatment).
    */
  def kfoldAssign(spark: SparkSession, dir: String): DataFrame = {
    val fold = pmod(
      conv(substring(md5(concat_ws("|", col("source"), col("lang"),
        col("doc_id").cast("string"))), 1, 12), 16, 10).cast("long"),
      lit(CvFolds.toLong))
    val cells = Tables.documents(spark, dir)
      .select(fold.as("fold"), col("lang"))
      .groupBy(col("fold"), col("lang")).agg(count(lit(1)).as("n"))
      .persistTracked()
    val langTot = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
    val total = cells.agg(sum(col("n")).as("n_total"))
    val foldTot = cells.groupBy(col("fold")).agg(sum(col("n")).as("n_fold"))
    // chi2 term per cell vs the pooled expectation n_fold·n_lang/n_total:
    // (n − e)²/e with e as one fixed float expression over exact integers
    val e = col("n_fold").cast("double") * col("n_lang").cast("double") /
      col("n_total").cast("double")
    val term = (col("n").cast("double") - e) * (col("n").cast("double") - e) / e
    cells
      .join(broadcast(langTot), Seq("lang"))
      .join(broadcast(foldTot), Seq("fold"))
      .crossJoin(broadcast(total))
      .groupBy(col("fold"))
      .agg(max(col("n_fold")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum(OracleMath.stableRound(term, 6).cast(
          org.apache.spark.sql.types.DecimalType(18, 6))).cast("double").as("chi2"))
      .orderBy(col("fold"))
  }

  /** The q302 twin — same hash deal and fixed χ² cells. */
  val kfoldAssignOracle: String = {
    val term = "(CAST(n AS DOUBLE) - CAST(n_fold AS DOUBLE) * CAST(n_lang AS DOUBLE) / CAST(n_total AS DOUBLE)) " +
      "* (CAST(n AS DOUBLE) - CAST(n_fold AS DOUBLE) * CAST(n_lang AS DOUBLE) / CAST(n_total AS DOUBLE)) " +
      "/ (CAST(n_fold AS DOUBLE) * CAST(n_lang AS DOUBLE) / CAST(n_total AS DOUBLE))"
    s"""WITH cells AS (
       |  SELECT ('0x' || substr(md5(source || '|' || lang || '|' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % $CvFolds AS fold,
       |         lang, CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |lt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cells GROUP BY 1),
       |ft AS (SELECT fold, CAST(sum(n) AS BIGINT) AS n_fold FROM cells GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM cells)
       |SELECT fold, max(n_fold) AS n_docs, CAST(count(*) AS BIGINT) AS n_langs,
       |  CAST(sum(CAST(${OracleMath.stableRoundSql(term, 6)} AS DECIMAL(18,6))) AS DOUBLE) AS chi2
       |FROM cells JOIN lt USING (lang) JOIN ft USING (fold), t
       |GROUP BY fold ORDER BY fold""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "q296_kcenter_coreset" -> kcenterCoresetOracle,
    "q297_neyman_alloc" -> neymanAllocationOracle,
    "q302_kfold_assign" -> kfoldAssignOracle,
    "q304_kmv_rewrite_tuple" -> kmvRewriteTupleOracle,
    "q168_weighted_sample" ->
      s"""WITH s AS (SELECT doc_id, source, n_chars,
        |    ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 0.5)
        |       / $TwoPow48) / n_chars AS sel_key
        |  FROM documents)
        |SELECT CAST(row_number() OVER (ORDER BY sel_key DESC, doc_id) AS BIGINT) AS rank,
        | doc_id, source, n_chars,
        | ${OracleMath.stableRoundSql("sel_key", 8)} AS sel_key_r
        |FROM s ORDER BY sel_key DESC, doc_id LIMIT 50""".stripMargin,
    "q150_budget_sample" ->
      """WITH sizes AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM documents),
        |alloc0 AS (SELECT source, n, (100 * n) // total AS base,
        |                  100 * n - ((100 * n) // total) * total AS rem
        |           FROM sizes, tot),
        |lo AS (SELECT 100 - sum(base) AS leftover FROM alloc0),
        |ranked AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM alloc0),
        |alloc AS (SELECT source, n AS n_source,
        |                 base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS k_alloc
        |          FROM ranked, lo),
        |scored AS (SELECT doc_id, source,
        |             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS h
        |           FROM documents),
        |sel AS (SELECT doc_id, source,
        |          CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS pick
        |        FROM scored)
        |SELECT s.doc_id, s.source, s.pick, CAST(a.k_alloc AS BIGINT) AS k_alloc, a.n_source
        |FROM sel s JOIN alloc a USING (source)
        |WHERE s.pick <= a.k_alloc ORDER BY s.doc_id""".stripMargin,
    "q141_group_sample" ->
      """WITH e AS (SELECT event_type, event_id,
        |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT AS h
        |  FROM events),
        |r AS (SELECT event_type, event_id,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS BIGINT) AS rank,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_events
        |  FROM e)
        |SELECT event_type, rank, event_id, n_events
        |FROM r WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,
    "q158_export_manifest" ->
      """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |            md5(CAST(doc_id AS VARCHAR)) AS h,
        |            ('0x' || substr(md5(text), 1, 12))::BIGINT AS chk
        |          FROM documents)
        |SELECT CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) AS shard,
        | count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        | CAST(sum(chk) AS BIGINT) AS content_checksum
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q140_shard_shuffle" ->
      """WITH d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |s AS (SELECT doc_id, h,
        |        CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) AS shard
        |      FROM d)
        |SELECT shard,
        | CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos,
        | doc_id
        |FROM s ORDER BY shard, pos""".stripMargin,
    "q103_mixture_sample" ->
      """SELECT source, count(*) AS n_total,
        | CAST(sum(CASE WHEN (doc_id * 1103515245) % 100
        |                    < 25 + 5 * (CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 10)
        |               THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        | CAST(min(25 + 5 * (CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 10)) AS BIGINT) AS rate_pct
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q83_train_test_split" ->
      """SELECT split, lang, count(*) AS n_docs,
        | CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars
        |FROM (SELECT CASE WHEN (doc_id * 2654435761) % 100 < 80
        |              THEN 'train' ELSE 'test' END AS split, lang, n_chars
        |      FROM documents)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q84_tfidf_topterm" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM toks) GROUP BY 1),
        |total AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, word AS top_term, tf, df,
        | ${OracleMath.stableRoundSql("tf * ln(CAST(n_docs AS DOUBLE) / df)", 4)} AS tfidf
        |FROM (SELECT t.doc_id, t.word, t.tf, d.df, n.n_docs,
        |        row_number() OVER (PARTITION BY t.doc_id
        |                           ORDER BY t.tf DESC, d.df ASC, t.word ASC) AS rn
        |      FROM tf t JOIN dfreq d USING (word) CROSS JOIN total n)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
  )
}
