package graft.ops

import graft.Tables
import graft.ops.Caches.Tracked
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fellegi–Sunter record linkage (q312/q313) — the probabilistic
  * merge/purge decision model on top of the q287 sorted-neighborhood
  * blocking machinery.
  *
  * The testdata has no second entity table (and is read-only), so the "other
  * database" is DERIVED in-query from `customer` by deterministic
  * perturbations both engines replay literally: 90 % of customers reappear
  * (key % 10 ≠ 9), every third name gets a trailing-character typo, every
  * fifth account balance is floored (a re-keying loses the cents), every
  * seventh nation takes a ±1 migration,
  * every eleventh segment is lost to 'UNKNOWN'. Ground truth (same source
  * customer) rides along for the EVALUATION aggregates — the linkage score
  * itself only ever reads the four compared fields.
  *
  * Pipeline, each stage exactly replayable in SQL:
  *
  *  1. **Blocking** — Hernández–Stolfo MULTI-PASS sorted neighborhood: one
  *     pass sorted by name, one by balance (window [[LinkWindow]] each),
  *     pair = A-record × B-record within a window, union of passes, dedup.
  *     A perturbed key sorts its record away from its partner, so each pass
  *     catches the pairs the other key left intact — only records with BOTH
  *     keys perturbed (≈ 1/15) can escape blocking entirely. Ranks come from
  *     [[PrefixSum.cumSums]] (never an unpartitioned window); pairing is the
  *     q287 rank-block equi-join.
  *  2. **m/u weights** — agreement probabilities per field among true
  *     matches (m) and non-matches (u), estimated from the labeled candidate
  *     set with add-one smoothing (a zero u — e.g. names never agreeing
  *     across entities — would make a weight infinite). All counts are exact
  *     integers; each log-weight `ln(m/u)` / `ln((1−m)/(1−u))` is ONE float
  *     expression over exact integer products (the q264 ln discipline),
  *     6-dp-rounded into DECIMAL(18,6).
  *  3. **Score & decide** — a pair's score is the exact DECIMAL sum of its
  *     four agreement/disagreement weights (order-free — no float
  *     accumulation); `score ≥ 3` ⇒ match, `≤ −3` ⇒ non-match, else
  *     possible (decimal-vs-decimal threshold compare in both engines).
  *
  * Scale shape: two prefix-sum rank passes + two rank-block equi-joins
  * (candidates = 2·w·n by construction), one confusion-matrix aggregate.
  * The weights frame is ONE row, broadcast back onto the candidate set —
  * the same measure-then-apply shape as the SRP gate (q306→q307).
  */
object LinkageOps {

  /** Sorted-neighborhood window per pass. */
  val LinkWindow = 5

  /** Decision thresholds on the summed log-weight score (natural log). */
  val MatchThreshold = "3.0"
  val NonMatchThreshold = "-3.0"

  private val d186 = DecimalType(18, 6)

  /** The A side: customers as linkage records. uid = 2·key (even ⇒ A). */
  private def sideA(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey").as("key"), lit("A").as("src"),
      (col("c_custkey") * 2).as("uid"),
      col("c_name").as("name"), col("c_acctbal").as("bal"),
      col("c_nationkey").as("nation"), col("c_mktsegment").as("seg"))

  /** The re-observation rule every linkage side shares: the customers
    * `keep` selects, tagged `src`, uid = 2·key + 1 (odd ⇒ not A), with a
    * name typo (last char → 'X') on every 3rd key, a floored balance on
    * every 5th, a nation shift on every 7th and an UNKNOWN segment on
    * every 11th; `extra` columns follow. [[reobservedSql]] is its twin.
    */
  private def reobserved(spark: SparkSession, dir: String, keep: Column, src: String,
      extra: Column*): DataFrame =
    Tables.customer(spark, dir)
      .filter(keep)
      .select(Seq(
        col("c_custkey").as("key"), lit(src).as("src"),
        (col("c_custkey") * 2 + 1).as("uid"),
        when(col("c_custkey") % 3 === 0,
          concat(expr("substr(c_name, 1, length(c_name) - 1)"), lit("X")))
          .otherwise(col("c_name")).as("name"),
        when(col("c_custkey") % 5 === 0, floor(col("c_acctbal")))
          .otherwise(col("c_acctbal")).as("bal"),
        when(col("c_custkey") % 7 === 0, (col("c_nationkey") + 1) % 25)
          .otherwise(col("c_nationkey")).as("nation"),
        when(col("c_custkey") % 11 === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("seg")) ++ extra: _*)

  /** The B side: the perturbed re-observation of 90 % of the keys. */
  private def sideB(spark: SparkSession, dir: String): DataFrame =
    reobserved(spark, dir, col("c_custkey") % 10 =!= 9, "B")

  /** One sorted-neighborhood pass over the A∪B record set: (uid_a, uid_b)
    * pairs with rank distance ≤ w in `bk`-order, one record from each side,
    * oriented A-first by uid parity. The q287 rank-block equi-join on the
    * PrefixSum global rank.
    */
  private def snPass(u: DataFrame, bk: Column, w: Int): DataFrame = {
    val nParts = PrefixSum.defaultParts(u.sparkSession)
    val ranked = PrefixSum.cumSums(
        u.select(col("uid"), col("src"), bk.as("bk")),
        Seq(col("bk"), col("uid")), Seq("rn" -> lit(1L)), nParts).df
      .select(col("uid"), col("src"), col("cum_rn").as("rn"),
        expr(s"(cum_rn - 1) DIV $w").as("blk"))
    val left = ranked.select(col("uid").as("ux"), col("src").as("sx"),
      col("rn").as("rnx"), explode(array(col("blk"), col("blk") + 1)).as("jk"))
    val right = ranked.select(col("uid").as("uy"), col("src").as("sy"),
      col("rn").as("rny"), col("blk").as("jk"))
    left.join(right, Seq("jk"))
      .filter(col("rnx") < col("rny") && col("rny") - col("rnx") <= w
        && col("sx") =!= col("sy"))
      .select(
        when(col("ux") % 2 === 0, col("ux")).otherwise(col("uy")).as("uid_a"),
        when(col("ux") % 2 === 0, col("uy")).otherwise(col("ux")).as("uid_b"))
  }

  /** Candidate pairs with agreement flags and the ground-truth label. */
  private def candidates(spark: SparkSession, dir: String): DataFrame = {
    val u = sideA(spark, dir).unionByName(sideB(spark, dir)).persistTracked()
    val pairs = snPass(u, col("name"), LinkWindow)
      .unionByName(snPass(u, col("bal"), LinkWindow))
      .distinct()
    val au = u.select(col("uid").as("uid_a"), col("key").as("key_a"),
      col("name").as("name_a"), col("bal").as("bal_a"),
      col("nation").as("nation_a"), col("seg").as("seg_a"))
    val bu = u.select(col("uid").as("uid_b"), col("key").as("key_b"),
      col("name").as("name_b"), col("bal").as("bal_b"),
      col("nation").as("nation_b"), col("seg").as("seg_b"))
    pairs.join(au, "uid_a").join(bu, "uid_b")
      .select(col("uid_a"), col("uid_b"), col("key_a"), col("key_b"),
        (col("name_a") === col("name_b")).as("f_name"),
        (col("bal_a") === col("bal_b")).as("f_bal"),
        (col("nation_a") === col("nation_b")).as("f_nation"),
        (col("seg_a") === col("seg_b")).as("f_seg"),
        (col("key_a") === col("key_b")).as("is_true"))
  }

  /** Candidates with their DECIMAL-exact Fellegi–Sunter score attached (the
    * one-row weights frame broadcast back — measure-then-apply).
    */
  private def scoredPairs(cand: DataFrame): DataFrame = {
    val score = Fields.map { f =>
      when(col(s"f_$f"), col(s"wa_$f")).otherwise(col(s"wd_$f"))
    }.reduce(_ + _).cast(d186)
    cand.crossJoin(weightsRow(cand))
      .select(col("uid_a"), col("uid_b"), col("is_true"), score.as("score"))
  }

  private val Fields = Seq("name", "bal", "nation", "seg")

  /** One-row frame of exact counts: n, n_match, and per-field agreement
    * counts among matches / non-matches.
    */
  private def weightCounts(cand: DataFrame): DataFrame = {
    val perField = Fields.flatMap { f =>
      Seq(
        sum(when(col("is_true") && col(s"f_$f"), 1L).otherwise(0L)).as(s"ma_$f"),
        sum(when(!col("is_true") && col(s"f_$f"), 1L).otherwise(0L)).as(s"ua_$f"))
    }
    val aggCols = Seq(count(lit(1)).as("n"),
      sum(when(col("is_true"), 1L).otherwise(0L)).as("nm")) ++ perField
    cand.agg(aggCols.head, aggCols.tail: _*)
  }

  /** Smoothed log-weight over `k` agreement categories (add-one smoothing,
    * `+k` denominators): `ln((cntAgree+1)/(nGroup+k) ÷ (cntOther+1)/(nOther+k))`
    * written as ONE ln over exact integer cross-products (all counts ≤ 10⁶,
    * products exact in a double), 6-dp-rounded into DECIMAL(18,6). The SQL
    * twin [[wSql]] spells the identical expression. k = 2 for a boolean
    * field, 3 for the graded address.
    */
  private def w(numCnt: Column, numN: Column, denCnt: Column, denN: Column, k: Int): Column =
    OracleMath.stableRound(
      log(((numCnt + 1).cast("double") * (denN + k).cast("double")) /
        ((denCnt + 1).cast("double") * (numN + k).cast("double"))), 6).cast(d186)

  /** The 8 decision weights (agree/disagree per field) as one broadcast row. */
  private def weightsRow(cand: DataFrame): DataFrame = {
    val c = weightCounts(cand)
    val nu = col("n") - col("nm")
    val cols = Fields.flatMap { f =>
      val ma = col(s"ma_$f"); val ua = col(s"ua_$f")
      Seq(
        w(ma, col("nm"), ua, nu, 2).as(s"wa_$f"),
        w(col("nm") - ma, col("nm"), nu - ua, nu, 2).as(s"wd_$f"))
    }
    c.select(cols: _*)
  }

  /** q312 — the linkage confusion matrix: Fellegi–Sunter decision class ×
    * ground truth, with pair counts and the score range per cell. The
    * decisions a curator reads off: matches found, false matches let
    * through, true pairs parked in 'possible' for clerical review.
    */
  def recordLinkage(spark: SparkSession, dir: String): DataFrame = {
    val cand = candidates(spark, dir).persistTracked()
    val scored = scoredPairs(cand)
    val decision = when(col("score") >= lit(MatchThreshold).cast(d186), lit("match"))
      .when(col("score") <= lit(NonMatchThreshold).cast(d186), lit("non_match"))
      .otherwise(lit("possible"))
    scored
      .groupBy(decision.as("decision"), col("is_true"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("score")).cast("double").as("min_score"),
        max(col("score")).cast("double").as("max_score"))
      .orderBy(col("decision"), col("is_true"))
  }

  /** q313 — the estimated model itself, one row per compared field: exact
    * agreement counts among matches/non-matches and the smoothed
    * log-weights. The audit surface for q312 (and what a real deployment
    * would persist as "the trained linker").
    */
  def linkageWeights(spark: SparkSession, dir: String): DataFrame = {
    val cand = candidates(spark, dir).persistTracked()
    val c = weightCounts(cand).crossJoin(weightsRow(cand))
    val rows = Fields.map { f =>
      struct(lit(f).as("field"),
        col("nm").cast("long").as("n_match"),
        (col("n") - col("nm")).cast("long").as("n_nonmatch"),
        col(s"ma_$f").cast("long").as("m_agree"),
        col(s"ua_$f").cast("long").as("u_agree"),
        col(s"wa_$f").cast("double").as("w_agree"),
        col(s"wd_$f").cast("double").as("w_disagree"))
    }
    c.select(explode(array(rows: _*)).as("r"))
      .select(col("r.field"), col("r.n_match"), col("r.n_nonmatch"),
        col("r.m_agree"), col("r.u_agree"), col("r.w_agree"), col("r.w_disagree"))
      .orderBy(col("field"))
  }

  /** q315 — golden records: the match decisions closed into entity CLUSTERS
    * (connected components over match pairs, [[DedupOps.components]]) and
    * collapsed by a deterministic survivorship rule: the minimum-uid record
    * (the A-side original whenever one is in the cluster) donates the
    * golden fields. Per cluster: size, how many A-records it absorbed, the
    * survivor's name, and whether the members disagree on nation (the
    * conflict a steward would review). This is the stage an
    * entity-resolution pipeline actually ships — q312 scores pairs, q315
    * turns them into one row per real-world entity.
    */
  def goldenRecords(spark: SparkSession, dir: String): DataFrame = {
    val u = sideA(spark, dir).unionByName(sideB(spark, dir)).persistTracked()
    val cand = candidates(spark, dir).persistTracked()
    val matches = scoredPairs(cand)
      .filter(col("score") >= lit(MatchThreshold).cast(d186))
      .select(col("uid_a"), col("uid_b"))
    val labels = DedupOps.components(u.select(col("uid").as("doc_id")), matches)
    u.join(labels.select(col("doc_id").as("uid"), col("label").as("cluster_id")), "uid")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_records"),
        sum(when(col("src") === "A", 1L).otherwise(0L)).as("n_a"),
        max(when(col("uid") === col("cluster_id"), col("name"))).as("survivor_name"),
        (countDistinct(col("nation")) > 1).as("nation_conflict"))
      .orderBy(col("cluster_id"))
  }

  // --------------------------------------------------------------------------
  // Graded (Winkler-style) agreement — q320
  // --------------------------------------------------------------------------

  /** Close-agreement threshold on the 6-dp-quantized Jaro-Winkler (the
    * quantization is what lets DuckDB's `jaro_winkler_similarity` replay
    * the comparison bit-for-bit — StringSimSpec pins the raw doubles).
    */
  val JwCloseThreshold = 0.9

  /** A-side records EXTENDED with the address-fingerprint field the graded
    * model scores. The testdata's customer table carries no high-entropy
    * string (no c_address), and c_name cannot host the story — every
    * customer shares an 18-char prefix, so a last-char typo and a
    * NEIGHBORING key both sit at JW ≈ 0.978 and "close" would be
    * uninformative. The fingerprint `md5(key)` behaves exactly like a real
    * street address: unique per entity (32 hex chars, cross-entity JW ≈
    * 0.6), one-character typos keep JW ≈ 0.98, and both engines derive it
    * identically.
    */
  private def sideA2(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey").as("key"), lit("A").as("src"),
      (col("c_custkey") * 2).as("uid"),
      col("c_name").as("name"), col("c_acctbal").as("bal"),
      col("c_nationkey").as("nation"), col("c_mktsegment").as("seg"),
      md5(col("c_custkey").cast("string")).as("addr"))

  /** B-side with the q312 perturbations + an address typo on every third
    * key (residue 1 — independent of the name-typo residue 0, so pairs
    * exist with exactly one of the two strings perturbed).
    */
  private def sideB2(spark: SparkSession, dir: String): DataFrame =
    reobserved(spark, dir, col("c_custkey") % 10 =!= 9, "B",
      when(col("c_custkey") % 3 === 1,
        concat(expr("substr(md5(CAST(c_custkey AS STRING)), 1, 31)"), lit("Q")))
        .otherwise(md5(col("c_custkey").cast("string"))).as("addr"))

  /** Candidates with the boolean flags + the GRADED address level:
    * 2 = exact, 1 = close (quantized JW ≥ [[JwCloseThreshold]]), 0 =
    * disagree. Same two sorted-neighborhood blocking passes (they read
    * only name/bal).
    */
  private def candidatesGraded(spark: SparkSession, dir: String): DataFrame = {
    val u = sideA2(spark, dir).unionByName(sideB2(spark, dir)).persistTracked()
    val pairs = snPass(u, col("name"), LinkWindow)
      .unionByName(snPass(u, col("bal"), LinkWindow))
      .distinct()
    val au = u.select(col("uid").as("uid_a"), col("key").as("key_a"),
      col("name").as("name_a"), col("bal").as("bal_a"),
      col("nation").as("nation_a"), col("seg").as("seg_a"), col("addr").as("addr_a"))
    val bu = u.select(col("uid").as("uid_b"), col("key").as("key_b"),
      col("name").as("name_b"), col("bal").as("bal_b"),
      col("nation").as("nation_b"), col("seg").as("seg_b"), col("addr").as("addr_b"))
    val jw6 = OracleMath.stableRound(
      graft.functions.StringFunctions.jaroWinkler(col("addr_a"), col("addr_b")), 6)
    pairs.join(au, "uid_a").join(bu, "uid_b")
      .select(col("uid_a"), col("uid_b"),
        (col("name_a") === col("name_b")).as("f_name"),
        (col("bal_a") === col("bal_b")).as("f_bal"),
        (col("nation_a") === col("nation_b")).as("f_nation"),
        (col("seg_a") === col("seg_b")).as("f_seg"),
        when(col("addr_a") === col("addr_b"), 2)
          .when(jw6 >= lit(JwCloseThreshold), 1).otherwise(0).as("lvl_addr"),
        (col("key_a") === col("key_b")).as("is_true"))
  }

  private val AddrLevels = Seq(0, 1, 2)

  /** One-row exact counts for the graded model: the q312 boolean counts +
    * per-level address counts among matches / non-matches.
    */
  private def gradedWeightCounts(cand: DataFrame): DataFrame = {
    val perField = Fields.flatMap { f =>
      Seq(
        sum(when(col("is_true") && col(s"f_$f"), 1L).otherwise(0L)).as(s"ma_$f"),
        sum(when(!col("is_true") && col(s"f_$f"), 1L).otherwise(0L)).as(s"ua_$f"))
    }
    val perLevel = AddrLevels.flatMap { l =>
      Seq(
        sum(when(col("is_true") && col("lvl_addr") === l, 1L).otherwise(0L)).as(s"ma_addr_$l"),
        sum(when(!col("is_true") && col("lvl_addr") === l, 1L).otherwise(0L)).as(s"ua_addr_$l"))
    }
    val aggCols = Seq(count(lit(1)).as("n"),
      sum(when(col("is_true"), 1L).otherwise(0L)).as("nm")) ++ perField ++ perLevel
    cand.agg(aggCols.head, aggCols.tail: _*)
  }

  /** The graded decision weights: 8 boolean + 3 per-level address. */
  private def gradedWeightsRow(cand: DataFrame): DataFrame = {
    val c = gradedWeightCounts(cand)
    val nu = col("n") - col("nm")
    val bools = Fields.flatMap { f =>
      val ma = col(s"ma_$f"); val ua = col(s"ua_$f")
      Seq(
        w(ma, col("nm"), ua, nu, 2).as(s"wa_$f"),
        w(col("nm") - ma, col("nm"), nu - ua, nu, 2).as(s"wd_$f"))
    }
    val lvls = AddrLevels.map { l =>
      w(col(s"ma_addr_$l"), col("nm"), col(s"ua_addr_$l"), nu, 3).as(s"wa_addr_$l")
    }
    c.select(bools ++ lvls: _*)
  }

  /** q320 — the GRADED confusion matrix: Fellegi–Sunter with a
    * string-similarity agreement level on the address field (exact / close
    * / disagree, the Winkler-style refinement), boolean agreement on the
    * rest. `n_addr_close` per cell surfaces the recovery story: true pairs
    * whose address is typo'd score at the close level instead of flatly
    * "disagree" — the pairs a boolean model under-scores (LinkageSpec
    * quantifies the recovery against the q312 baseline).
    */
  def gradedLinkage(spark: SparkSession, dir: String): DataFrame = {
    val cand = candidatesGraded(spark, dir).persistTracked()
    val score = (Fields.map { f =>
      when(col(s"f_$f"), col(s"wa_$f")).otherwise(col(s"wd_$f"))
    }.reduce(_ + _) +
      when(col("lvl_addr") === 2, col("wa_addr_2"))
        .when(col("lvl_addr") === 1, col("wa_addr_1"))
        .otherwise(col("wa_addr_0"))).cast(d186)
    val decision = when(col("score") >= lit(MatchThreshold).cast(d186), lit("match"))
      .when(col("score") <= lit(NonMatchThreshold).cast(d186), lit("non_match"))
      .otherwise(lit("possible"))
    cand.crossJoin(gradedWeightsRow(cand))
      .select(col("is_true"), col("lvl_addr"), score.as("score"))
      .groupBy(decision.as("decision"), col("is_true"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("lvl_addr") === 1, 1L).otherwise(0L)).as("n_addr_close"),
        min(col("score")).cast("double").as("min_score"),
        max(col("score")).cast("double").as("max_score"))
      .orderBy(col("decision"), col("is_true"))
  }

  /** The incremental batch: the 10 % of customers NOT in B re-observed
    * "today", same perturbation scheme (uid = 2·key + 1 — disjoint from the
    * corpus uids because those keys never produced a B record).
    */
  private def sideDelta(spark: SparkSession, dir: String): DataFrame =
    reobserved(spark, dir, col("c_custkey") % 10 === 9, "D")

  /** q317 — INCREMENTAL linkage: today's delta batch linked against the
    * corpus with the FROZEN model (the m/u weights q313 estimated on the
    * base candidates — apply-time never re-trains). Blocking switches from
    * rank neighborhoods to standard KEY blocking so the cost is
    * delta × bucket size, never corpus × corpus: a name-prefix key (the
    * trailing-typo perturbation only touches the last character) OR an
    * integer balance-floor key (flooring is idempotent, so a cents-lost
    * re-observation lands in its source's bucket by construction). Output
    * is the delta's decision matrix — the daily-ingest report an
    * incremental entity-resolution pipeline actually produces.
    */
  def deltaLinkage(spark: SparkSession, dir: String): DataFrame = {
    val cand = candidates(spark, dir).persistTracked()
    val wts = weightsRow(cand) // trained on the BASE, applied to the delta
    val a = sideA(spark, dir)
    val d = sideDelta(spark, dir)
    def keyed(df: DataFrame, side: String) = df.select(
      col("uid").as(s"uid_$side"), col("key").as(s"key_$side"),
      col("name").as(s"name_$side"), col("bal").as(s"bal_$side"),
      col("nation").as(s"nation_$side"), col("seg").as(s"seg_$side"),
      expr("substr(name, 1, length(name) - 1)").as("bk1"),
      floor(col("bal")).as("bk2"))
    val aK = keyed(a, "a").persistTracked()
    val dK = keyed(d, "b")
    val pairIds = aK.select(col("uid_a"), col("bk1")).join(dK.select(col("uid_b"), col("bk1")), "bk1")
      .select(col("uid_a"), col("uid_b"))
      .unionByName(
        aK.select(col("uid_a"), col("bk2")).join(dK.select(col("uid_b"), col("bk2")), "bk2")
          .select(col("uid_a"), col("uid_b")))
      .distinct()
    val dc = pairIds
      .join(aK.drop("bk1", "bk2"), "uid_a")
      .join(dK.drop("bk1", "bk2"), "uid_b")
      .select(
        (col("name_a") === col("name_b")).as("f_name"),
        (col("bal_a") === col("bal_b")).as("f_bal"),
        (col("nation_a") === col("nation_b")).as("f_nation"),
        (col("seg_a") === col("seg_b")).as("f_seg"),
        (col("key_a") === col("key_b")).as("is_true"))
    val score = Fields.map { f =>
      when(col(s"f_$f"), col(s"wa_$f")).otherwise(col(s"wd_$f"))
    }.reduce(_ + _).cast(d186)
    val decision = when(col("score") >= lit(MatchThreshold).cast(d186), lit("match"))
      .when(col("score") <= lit(NonMatchThreshold).cast(d186), lit("non_match"))
      .otherwise(lit("possible"))
    dc.crossJoin(wts)
      .select(col("is_true"), score.as("score"))
      .groupBy(decision.as("decision"), col("is_true"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("decision"), col("is_true"))
  }

  val deltaLinkageOracle: String = {
    val score = Fields.map(f => s"CASE WHEN f_$f THEN wa_$f ELSE wd_$f END")
      .mkString(" + ")
    s"""WITH $linkageCtesSql,
       |dl AS (SELECT c_custkey AS key, c_custkey * 2 + 1 AS uid,
       |$reobservedSql
       |  FROM customer WHERE c_custkey % 10 = 9),
       |ak AS (SELECT uid, key, name, bal, nation, seg,
       |         substr(name, 1, length(name) - 1) AS bk1, floor(bal) AS bk2 FROM a),
       |dk AS (SELECT uid, key, name, bal, nation, seg,
       |         substr(name, 1, length(name) - 1) AS bk1, floor(bal) AS bk2 FROM dl),
       |dp AS (SELECT DISTINCT uid_a, uid_b FROM (
       |    SELECT ak.uid AS uid_a, dk.uid AS uid_b FROM ak JOIN dk ON ak.bk1 = dk.bk1
       |    UNION ALL
       |    SELECT ak.uid, dk.uid FROM ak JOIN dk ON ak.bk2 = dk.bk2)),
       |dc AS (SELECT a2.name = d2.name AS f_name, a2.bal = d2.bal AS f_bal,
       |         a2.nation = d2.nation AS f_nation, a2.seg = d2.seg AS f_seg,
       |         a2.key = d2.key AS is_true
       |       FROM dp JOIN ak a2 ON a2.uid = dp.uid_a JOIN dk d2 ON d2.uid = dp.uid_b),
       |sc AS (SELECT is_true, CAST($score AS DECIMAL(18,6)) AS score
       |       FROM dc CROSS JOIN wt)
       |SELECT CASE WHEN score >= CAST($MatchThreshold AS DECIMAL(18,6)) THEN 'match'
       |            WHEN score <= CAST($NonMatchThreshold AS DECIMAL(18,6)) THEN 'non_match'
       |            ELSE 'possible' END AS decision,
       |  is_true, count(*) AS n_pairs
       |FROM sc GROUP BY 1, 2 ORDER BY decision, is_true""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Oracle twins
  // --------------------------------------------------------------------------

  /** Shared CTE prefix: derivation, union, both blocking passes, candidate
    * flags, and the exact weight counts.
    */
  private def linkageCtesSql: String = {
    val w = LinkWindow
    s"""a AS (SELECT c_custkey AS key, 'A' AS src, c_custkey * 2 AS uid,
       |    c_name AS name, c_acctbal AS bal, c_nationkey AS nation,
       |    c_mktsegment AS seg FROM customer),
       |b AS (SELECT c_custkey AS key, 'B' AS src, c_custkey * 2 + 1 AS uid,
       |$reobservedSql
       |  FROM customer WHERE c_custkey % 10 <> 9),
       |u AS MATERIALIZED (SELECT * FROM a UNION ALL SELECT * FROM b),
       |r1 AS (SELECT uid, src, row_number() OVER (ORDER BY name, uid) AS rn FROM u),
       |p1 AS (SELECT x.uid AS ux, y.uid AS uy FROM r1 x JOIN r1 y
       |       ON y.rn - x.rn BETWEEN 1 AND $w AND x.src <> y.src),
       |r2 AS (SELECT uid, src, row_number() OVER (ORDER BY bal, uid) AS rn FROM u),
       |p2 AS (SELECT x.uid AS ux, y.uid AS uy FROM r2 x JOIN r2 y
       |       ON y.rn - x.rn BETWEEN 1 AND $w AND x.src <> y.src),
       |pp AS (SELECT DISTINCT
       |    CASE WHEN ux % 2 = 0 THEN ux ELSE uy END AS uid_a,
       |    CASE WHEN ux % 2 = 0 THEN uy ELSE ux END AS uid_b
       |  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
       |cand AS MATERIALIZED (
       |  SELECT pp.uid_a, pp.uid_b, au.key AS key_a, bu.key AS key_b,
       |    au.name = bu.name AS f_name, au.bal = bu.bal AS f_bal,
       |    au.nation = bu.nation AS f_nation, au.seg = bu.seg AS f_seg,
       |    au.key = bu.key AS is_true
       |  FROM pp JOIN u au ON au.uid = pp.uid_a JOIN u bu ON bu.uid = pp.uid_b),
       |cnt AS (SELECT count(*) AS n,
       |    sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS nm,
       |${Fields.map(f =>
          s"""    sum(CASE WHEN is_true AND f_$f THEN 1 ELSE 0 END) AS ma_$f,
             |    sum(CASE WHEN NOT is_true AND f_$f THEN 1 ELSE 0 END) AS ua_$f""".stripMargin)
         .mkString(",\n")}
       |  FROM cand),
       |wt AS (SELECT
       |${Fields.map { f =>
          val wa = wSql(s"ma_$f", "nm", s"ua_$f", "(n - nm)", 2)
          val wd = wSql(s"(nm - ma_$f)", "nm", s"((n - nm) - ua_$f)", "(n - nm)", 2)
          s"    $wa AS wa_$f,\n    $wd AS wd_$f"
        }.mkString(",\n")}
       |  FROM cnt)""".stripMargin
  }

  /** SQL twin of [[reobserved]]: its name, bal, nation and seg columns. */
  private def reobservedSql: String =
    """    CASE WHEN c_custkey % 3 = 0
      |         THEN substr(c_name, 1, length(c_name) - 1) || 'X' ELSE c_name END AS name,
      |    CASE WHEN c_custkey % 5 = 0 THEN floor(c_acctbal) ELSE c_acctbal END AS bal,
      |    CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS nation,
      |    CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS seg""".stripMargin

  /** SQL twin of [[w]]: identical single-ln-over-integer-products form. */
  private def wSql(numCnt: String, numN: String, denCnt: String, denN: String, k: Int): String =
    "CAST(" + OracleMath.stableRoundSql(
      s"ln((CAST($numCnt + 1 AS DOUBLE) * CAST($denN + $k AS DOUBLE)) / " +
        s"(CAST($denCnt + 1 AS DOUBLE) * CAST($numN + $k AS DOUBLE)))", 6) +
      " AS DECIMAL(18,6))"

  /** Graded-model CTE prefix (q320): the q312 derivation + the md5 address
    * fingerprint, the same blocking, candidate flags with the graded level
    * (DuckDB's built-in `jaro_winkler_similarity` replays the kernel — the
    * raw doubles are bit-equal, pinned in StringSimSpec), and the extended
    * counts/weights.
    */
  private def gradedCtesSql: String = {
    val w = LinkWindow
    val jwq = OracleMath.stableRoundSql("jaro_winkler_similarity(au.addr, bu.addr)", 6)
    s"""a AS (SELECT c_custkey AS key, 'A' AS src, c_custkey * 2 AS uid,
       |    c_name AS name, c_acctbal AS bal, c_nationkey AS nation,
       |    c_mktsegment AS seg, md5(CAST(c_custkey AS VARCHAR)) AS addr FROM customer),
       |b AS (SELECT c_custkey AS key, 'B' AS src, c_custkey * 2 + 1 AS uid,
       |$reobservedSql,
       |    CASE WHEN c_custkey % 3 = 1
       |         THEN substr(md5(CAST(c_custkey AS VARCHAR)), 1, 31) || 'Q'
       |         ELSE md5(CAST(c_custkey AS VARCHAR)) END AS addr
       |  FROM customer WHERE c_custkey % 10 <> 9),
       |u AS MATERIALIZED (SELECT * FROM a UNION ALL SELECT * FROM b),
       |r1 AS (SELECT uid, src, row_number() OVER (ORDER BY name, uid) AS rn FROM u),
       |p1 AS (SELECT x.uid AS ux, y.uid AS uy FROM r1 x JOIN r1 y
       |       ON y.rn - x.rn BETWEEN 1 AND $w AND x.src <> y.src),
       |r2 AS (SELECT uid, src, row_number() OVER (ORDER BY bal, uid) AS rn FROM u),
       |p2 AS (SELECT x.uid AS ux, y.uid AS uy FROM r2 x JOIN r2 y
       |       ON y.rn - x.rn BETWEEN 1 AND $w AND x.src <> y.src),
       |pp AS (SELECT DISTINCT
       |    CASE WHEN ux % 2 = 0 THEN ux ELSE uy END AS uid_a,
       |    CASE WHEN ux % 2 = 0 THEN uy ELSE ux END AS uid_b
       |  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
       |cand AS MATERIALIZED (
       |  SELECT pp.uid_a, pp.uid_b,
       |    au.name = bu.name AS f_name, au.bal = bu.bal AS f_bal,
       |    au.nation = bu.nation AS f_nation, au.seg = bu.seg AS f_seg,
       |    CASE WHEN au.addr = bu.addr THEN 2
       |         WHEN $jwq >= $JwCloseThreshold THEN 1 ELSE 0 END AS lvl_addr,
       |    au.key = bu.key AS is_true
       |  FROM pp JOIN u au ON au.uid = pp.uid_a JOIN u bu ON bu.uid = pp.uid_b),
       |cnt AS (SELECT count(*) AS n,
       |    sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS nm,
       |${Fields.map(f =>
          s"""    sum(CASE WHEN is_true AND f_$f THEN 1 ELSE 0 END) AS ma_$f,
             |    sum(CASE WHEN NOT is_true AND f_$f THEN 1 ELSE 0 END) AS ua_$f""".stripMargin)
         .mkString(",\n")},
       |${AddrLevels.map(l =>
          s"""    sum(CASE WHEN is_true AND lvl_addr = $l THEN 1 ELSE 0 END) AS ma_addr_$l,
             |    sum(CASE WHEN NOT is_true AND lvl_addr = $l THEN 1 ELSE 0 END) AS ua_addr_$l""".stripMargin)
         .mkString(",\n")}
       |  FROM cand),
       |wt AS (SELECT
       |${Fields.map { f =>
          val wa = wSql(s"ma_$f", "nm", s"ua_$f", "(n - nm)", 2)
          val wd = wSql(s"(nm - ma_$f)", "nm", s"((n - nm) - ua_$f)", "(n - nm)", 2)
          s"    $wa AS wa_$f,\n    $wd AS wd_$f"
        }.mkString(",\n")},
       |${AddrLevels.map { l =>
          s"    ${wSql(s"ma_addr_$l", "nm", s"ua_addr_$l", "(n - nm)", 3)} AS wa_addr_$l"
        }.mkString(",\n")}
       |  FROM cnt)""".stripMargin
  }

  val gradedLinkageOracle: String = {
    val score = Fields.map(f => s"CASE WHEN f_$f THEN wa_$f ELSE wd_$f END")
      .mkString(" + ") +
      " + CASE lvl_addr WHEN 2 THEN wa_addr_2 WHEN 1 THEN wa_addr_1 ELSE wa_addr_0 END"
    s"""WITH $gradedCtesSql,
       |sc AS (SELECT is_true, lvl_addr,
       |    CAST($score AS DECIMAL(18,6)) AS score
       |  FROM cand CROSS JOIN wt)
       |SELECT CASE WHEN score >= CAST($MatchThreshold AS DECIMAL(18,6)) THEN 'match'
       |            WHEN score <= CAST($NonMatchThreshold AS DECIMAL(18,6)) THEN 'non_match'
       |            ELSE 'possible' END AS decision,
       |  is_true, count(*) AS n_pairs,
       |  CAST(sum(CASE WHEN lvl_addr = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_addr_close,
       |  CAST(min(score) AS DOUBLE) AS min_score,
       |  CAST(max(score) AS DOUBLE) AS max_score
       |FROM sc GROUP BY 1, 2 ORDER BY decision, is_true""".stripMargin
  }

  val recordLinkageOracle: String = {
    val score = Fields.map(f => s"CASE WHEN f_$f THEN wa_$f ELSE wd_$f END")
      .mkString(" + ")
    s"""WITH $linkageCtesSql,
       |sc AS (SELECT is_true,
       |    CAST($score AS DECIMAL(18,6)) AS score
       |  FROM cand CROSS JOIN wt)
       |SELECT CASE WHEN score >= CAST($MatchThreshold AS DECIMAL(18,6)) THEN 'match'
       |            WHEN score <= CAST($NonMatchThreshold AS DECIMAL(18,6)) THEN 'non_match'
       |            ELSE 'possible' END AS decision,
       |  is_true, count(*) AS n_pairs,
       |  CAST(min(score) AS DOUBLE) AS min_score,
       |  CAST(max(score) AS DOUBLE) AS max_score
       |FROM sc GROUP BY 1, 2 ORDER BY decision, is_true""".stripMargin
  }

  val goldenRecordsOracle: String = {
    val score = Fields.map(f => s"CASE WHEN f_$f THEN wa_$f ELSE wd_$f END")
      .mkString(" + ")
    s"""WITH RECURSIVE $linkageCtesSql,
       |sc AS (SELECT uid_a, uid_b, CAST($score AS DECIMAL(18,6)) AS score
       |       FROM cand CROSS JOIN wt),
       |m AS (SELECT uid_a, uid_b FROM sc
       |      WHERE score >= CAST($MatchThreshold AS DECIMAL(18,6))),
       |edges AS (SELECT uid_a AS src, uid_b AS dst FROM m
       |          UNION ALL SELECT uid_b, uid_a FROM m),
       |reach AS (SELECT uid AS node, uid AS r FROM u
       |  UNION SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r),
       |cc AS (SELECT node AS uid, min(r) AS cluster_id FROM reach GROUP BY node)
       |SELECT cc.cluster_id, count(*) AS n_records,
       |  CAST(sum(CASE WHEN u.src = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |  max(CASE WHEN u.uid = cc.cluster_id THEN u.name END) AS survivor_name,
       |  count(DISTINCT u.nation) > 1 AS nation_conflict
       |FROM cc JOIN u USING (uid)
       |GROUP BY cc.cluster_id ORDER BY cc.cluster_id""".stripMargin
  }

  val linkageWeightsOracle: String = {
    val rows = Fields.map { f =>
      s"""SELECT '$f' AS field, CAST(nm AS BIGINT) AS n_match,
         |  CAST(n - nm AS BIGINT) AS n_nonmatch,
         |  CAST(ma_$f AS BIGINT) AS m_agree, CAST(ua_$f AS BIGINT) AS u_agree,
         |  CAST(wa_$f AS DOUBLE) AS w_agree, CAST(wd_$f AS DOUBLE) AS w_disagree
         |FROM cnt CROSS JOIN wt""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $linkageCtesSql
       |SELECT * FROM ($rows) ORDER BY field""".stripMargin
  }
}
