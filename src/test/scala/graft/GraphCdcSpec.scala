package graft

import graft.ops.{CoreOps, EventOps, SamplingOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the round-6 additions: snapshot-changelog derivation (q167),
  * length-weighted sampling (q168), integer-exact PageRank (q169), and the
  * streaming LSH near-dup's batch equivalence (q170).
  */
class GraphCdcSpec extends AnyFunSuite {
  import TestSpark._

  test("q167 changelog: ops partition correctly and reconstruct the new snapshot size") {
    val orders = Tables.orders(spark, sf).select(col("o_orderkey")).distinct()
    val nAll = orders.count()
    val nOld = orders.filter(col("o_orderkey") % 97 =!= 0).count()
    val nNew = orders.filter(col("o_orderkey") % 101 =!= 0).count()

    val rows = CoreOps.snapshotChangelog(spark, sf).collect()
    val byOp = rows.groupBy(_.getAs[String]("op")).map { case (k, v) => k -> v.length }
    // inserts = keys in NEW but not OLD; deletes = keys in OLD but not NEW
    assert(byOp.getOrElse("insert", 0).toLong ==
      orders.filter(col("o_orderkey") % 97 === 0 && col("o_orderkey") % 101 =!= 0).count())
    assert(byOp.getOrElse("delete", 0).toLong ==
      orders.filter(col("o_orderkey") % 101 === 0 && col("o_orderkey") % 97 =!= 0).count())
    // applying the changelog reconciles the snapshot SIZES
    assert(nOld + byOp.getOrElse("insert", 0) - byOp.getOrElse("delete", 0) == nNew)
    assert(nAll >= nNew && nAll >= nOld)
    // every update names at least one changed column; inserts/deletes none
    rows.foreach { r =>
      val mask = r.getAs[String]("changed_cols")
      if (r.getAs[String]("op") == "update") assert(mask.nonEmpty)
      else assert(mask.isEmpty)
    }
    // updates are exactly the mod-100 mutation (minus keys deleted/inserted)
    rows.filter(_.getAs[String]("op") == "update").foreach { r =>
      assert(r.getAs[Long]("o_orderkey") % 100 == 0)
      assert(r.getAs[String]("new_status") == "X")
      assert(r.getAs[Double]("new_price") > r.getAs[Double]("old_price"))
    }
  }

  test("q168 weighted sample: k rows, dense ranks, length-biased, heap top-k plan") {
    val df = SamplingOps.weightedSample(spark, sf)
    val rows = df.collect()
    assert(rows.length == 50)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to 50L).toSeq)
    // PPS-by-length must overrepresent long docs: the sample's mean length
    // exceeds the corpus mean (a uniform sample would match it in
    // expectation; length-weighting pulls it up by ~E[w²]/E[w]²)
    val corpusMean = Tables.documents(spark, sf)
      .agg(avg(col("n_chars"))).head.getDouble(0)
    val sampleMean = rows.map(_.getAs[Long]("n_chars")).sum.toDouble / rows.length
    assert(sampleMean > corpusMean,
      s"length-weighted sample mean $sampleMean should exceed corpus mean $corpusMean")
    // top-k by selection key must plan as per-partition heaps, not a sort
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("q169 PageRank: mass conserved within floor loss, teleport floor, share sums to 100") {
    // sf0.001 has no capped co-occurrence pairs — use the correctness SF
    val dir = "/root/testdata/sf0.01"
    val rows = EventOps.pageRank(spark, dir).collect()
    assert(rows.nonEmpty)
    val n = rows.length.toLong
    val total = rows.map(_.getAs[Long]("rank_scaled")).sum
    val ideal = n * EventOps.PrScale
    // floor division loses < (deg_sum + n) * rounds units in total — tiny
    assert(total <= ideal, "integer PageRank cannot create mass")
    assert(total > (ideal * 999L) / 1000L, s"mass loss too large: $total vs $ideal")
    rows.foreach { r =>
      // every node keeps at least the teleport mass
      assert(r.getAs[Long]("rank_scaled") >= EventOps.PrScale * 15L / 100L)
      assert(r.getAs[Long]("degree") >= 1L)
    }
    val shareSum = rows.map(_.getAs[Double]("share_pct")).sum
    assert(math.abs(shareSum - 100.0) < 1e-3)
    // rank must correlate with degree at the extremes: the max-degree node
    // outranks the min-degree node (sanity of the propagation direction)
    val byDeg = rows.sortBy(_.getAs[Long]("degree"))
    assert(byDeg.last.getAs[Long]("rank_scaled") > byDeg.head.getAs[Long]("rank_scaled"))
  }

  test("q171 k-means: total assignment, valid clusters, inertia improves with rounds") {
    import graft.ops.SimilarityOps
    val nVecs = Tables.embeddings(spark, sf).count()
    def inertia(rounds: Int): Double = {
      val rows = SimilarityOps.kmeans(spark, sf, rounds).collect()
      assert(rows.length.toLong == nVecs, "every vector must be assigned")
      assert(rows.forall { r =>
        val c = r.getAs[Long]("cluster"); c >= 0 && c < SimilarityOps.KmK
      })
      rows.map(_.getAs[Double]("dist_r")).sum
    }
    val i1 = inertia(1)
    val i3 = inertia(SimilarityOps.KmRounds)
    // Lloyd descends; quantization perturbs at 1e-7 per component, far below
    // the inertia scale — three rounds must not be worse than one
    assert(i3 <= i1 + 1e-6, s"inertia regressed: 1 round $i1 -> ${SimilarityOps.KmRounds} rounds $i3")
  }

  test("q172 frequent pairs: a-priori monotonicity and lift consistency") {
    import graft.ops.TextOps
    val nDocs = Tables.documents(spark, sf).count()
    val rows = TextOps.frequentPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (s, dfA, dfB) = (r.getAs[Long]("support"), r.getAs[Long]("df_a"), r.getAs[Long]("df_b"))
      // pair support can't exceed either member's df (monotonicity), and
      // every emitted pair and both members clear the support gate
      assert(s <= math.min(dfA, dfB))
      assert(s * TextOps.PairSupportDenom >= nDocs)
      assert(dfA * TextOps.PairSupportDenom >= nDocs && dfB * TextOps.PairSupportDenom >= nDocs)
      // lift = s·N/(dfA·dfB) ≤ N/max(dfA,dfB) · 1 … basic positivity
      assert(r.getAs[Double]("lift_r") > 0.0)
    }
  }

  test("q173 CMS: estimate dominates exact count on every key (hard CMS invariant)") {
    val rows = graft.ops.EventOps.cmsCounts(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_exact")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("overcount") >= 0L, s"CMS undercounted ${r.getAs[Long]("user_id")}")
      assert(r.getAs[Long]("n_est") == r.getAs[Long]("n_exact") + r.getAs[Long]("overcount"))
      // a counter can never exceed the stream length
      assert(r.getAs[Long]("n_est") <= total)
    }
  }

  test("q174 Markov: per-state transition probabilities sum to 1") {
    val rows = graft.ops.EventOps.markovTransitions(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("prev_type")).foreach { case (_, ts) =>
      assert(math.abs(ts.map(_.getAs[Double]("p_r")).sum - 1.0) < 1e-4)
      // n_from is the shared row total
      assert(ts.map(_.getAs[Long]("n")).sum == ts.head.getAs[Long]("n_from"))
    }
  }

  test("q175 incremental view merge equals direct recomputation on every row") {
    val rows = graft.ops.EventOps.incrementalViewMerge(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_merged") == r.getAs[Long]("n_direct"))
      assert(r.getAs[Double]("sum_merged") == r.getAs[Double]("sum_direct"))
    }
  }

  test("q176 RANGE frame is gap-aware (never wider than the 7-row ROWS frame)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = graft.ops.EventOps.rangeWindowSpend(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // re-derive the ROWS-frame counterpart: for users with day gaps the
    // RANGE frame must be strictly smaller somewhere
    val daily = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val wRows = Window.partitionBy(col("user_id")).orderBy(col("day")).rowsBetween(-6, 0)
    val rowsFrame = daily.withColumn("n_7r", sum(col("n")).over(wRows))
      .select(col("user_id"), col("day"), col("n_7r")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("day")) -> r.getAs[Long]("n_7r"))
      .toMap
    var strictlySmaller = 0
    rows.foreach { r =>
      val key = (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("day"))
      val n7d = r.getAs[Long]("n_7d")
      assert(n7d <= rowsFrame(key), "RANGE frame can never exceed the ROWS frame")
      if (n7d < rowsFrame(key)) strictlySmaller += 1
    }
    assert(strictlySmaller > 0, "no day gaps found — RANGE vs ROWS indistinguishable on this data")
  }

  test("q177 bucketed join plans with zero join-side exchanges") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val df = graft.ops.CoreOps.bucketedJoin(spark, sf)
    val nHashEx = "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length
    // only the final aggregate repartitions; the SMJ reads bucketed scans
    assert(nHashEx == 1, s"expected 1 hash exchange (agg only), got $nHashEx")
    val physical = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val smj = physical.collectFirst { case j: SortMergeJoinExec => j }
    assert(smj.isDefined, s"bucketed sides must co-locate in a sort-merge join:\n$physical")
    assert(smj.get.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"neither join side may shuffle:\n${smj.get}")
    // a catalog without the tables (a fresh JVM) registers the stored
    // files again, bucket spec included, instead of rebuilding them
    val rows = df.collect().toSeq
    Seq("orders", "lineitem").foreach { t =>
      spark.sql(s"DROP TABLE ${graft.ops.Staging.storedName(s"bkt_$t", sf)}")
    }
    val sentinel = new java.io.File(graft.ops.Staging.storedDir("bkt_orders", sf), "_sentinel")
    assert(sentinel.createNewFile())
    val again = graft.ops.CoreOps.bucketedJoin(spark, sf)
    assert("Exchange hashpartitioning".r
      .findAllIn(again.queryExecution.executedPlan.toString).length == 1)
    assert(again.collect().toSeq === rows)
    assert(sentinel.delete(), "a valid stage must be registered, not rebuilt")
    // the same join from raw parquet (broadcast disabled) shuffles BOTH sides
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import org.apache.spark.sql.functions._
    val raw = Tables.lineitem(s2, sf).select(col("l_orderkey"), col("l_extendedprice"))
      .join(Tables.orders(s2, sf).select(col("o_orderkey"), col("o_orderstatus")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n_items"))
    val nRaw = "Exchange hashpartitioning".r
      .findAllIn(raw.queryExecution.executedPlan.toString).length
    assert(nRaw == 3, s"raw twin should shuffle both join sides + agg, got $nRaw")
  }

  test("q178 outer stream join: matched part equals inner join, nulls only below watermark") {
    import org.apache.spark.sql.functions._
    val outer = graft.streaming.StreamJoinOps.clickAttributionOuterStreaming(spark, sf).collect()
    val inner = graft.streaming.StreamJoinOps.clickAttributionStreaming(spark, sf).collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSet
    val matched = outer.filter(_.getAs[Long]("click_id") != -1L)
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSet
    assert(matched == inner, "outer join's matched subset must equal the inner join")
    val unmatched = outer.filter(_.getAs[Long]("click_id") == -1L)
    assert(unmatched.nonEmpty, "no null-extended rows — outer semantics untested")
    // every unmatched purchase is strictly below the final global watermark
    val ev = Tables.events(spark, sf)
    val maxP = ev.filter(col("event_type") === "purchase").agg(max(col("ts"))).head.getTimestamp(0)
    val maxC = ev.filter(col("event_type") === "click").agg(max(col("ts"))).head.getTimestamp(0)
    val cutoffMs = (math.min(maxP.getTime, maxC.getTime)) - 3600L * 1000
    val pTs = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    unmatched.foreach { r =>
      val ts = pTs(r.getAs[Long]("purchase_id"))
      assert(ts.getTime < cutoffMs + 1000,
        s"unmatched purchase at $ts emitted above the watermark cutoff")
    }
  }

  test("q179 multitouch: per-purchase weights sum to 1") {
    val rows = graft.ops.EventOps.multiTouchAttribution(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("purchase_id")).foreach { case (_, touches) =>
      assert(touches.forall(_.getAs[Long]("n_touch") == touches.length))
      assert(math.abs(touches.map(_.getAs[Double]("weight_r")).sum - 1.0) < 1e-4)
    }
  }

  test("q181 streaming MG: every exact top-10 word sits inside the theorem envelope") {
    val rows = graft.streaming.DocsStream.mgHeavyHittersStreaming(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[Boolean]("mg_ok")), "MG envelope violated in streaming state")
  }

  test("q182 RRF fusion: dense ranks, recomputable scores, both rankers represented") {
    import graft.ops.RetrievalOps
    val rows = RetrievalOps.hybridRetrieval(spark, sf).collect()
    assert(rows.length == RetrievalOps.RrfTopK)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to RetrievalOps.RrfTopK).toSeq)
    val scores = rows.map(_.getAs[Double]("rrf_r"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "rrf not monotone by rank")
    rows.foreach { r =>
      val (rb, rv) = (r.getAs[Long]("rank_bm25"), r.getAs[Long]("rank_knn"))
      assert(rb != -1L || rv != -1L)
      val expected = (if (rb == -1L) 0.0 else 1.0 / (RetrievalOps.RrfK + rb)) +
        (if (rv == -1L) 0.0 else 1.0 / (RetrievalOps.RrfK + rv))
      assert(math.abs(expected - r.getAs[Double]("rrf_r")) < 1e-7)
    }
    assert(rows.exists(_.getAs[Long]("rank_bm25") == 1L) ||
      rows.exists(_.getAs[Long]("rank_knn") == 1L), "neither ranker's #1 made the fusion")
  }

  test("q183 budget trim: kept docs are the quality prefix and respect the budget") {
    import graft.ops.TextOps
    val kept = TextOps.budgetTrim(spark, sf).collect()
    assert(kept.nonEmpty)
    val all = TextOps.qualityScore(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    val keptIds = kept.map(_.getAs[Long]("doc_id")).toSet
    assert(kept.length < all.size, "budget never binds — nothing was trimmed")
    kept.groupBy(_.getAs[String]("source")).foreach { case (_, docs) =>
      // every kept doc started under budget (cum BEFORE it < B)
      docs.foreach { d =>
        assert(d.getAs[Long]("cum_tokens") - d.getAs[Long]("n_tokens") < TextOps.TrimBudgetTokens)
      }
      // the kept set is a quality-ordered prefix: no dropped doc of this
      // source outranks the worst kept one (strictly — ties broken by id)
      val worstKept = docs.map(_.getAs[Double]("quality_r")).min
      val srcDocs = Tables.documents(spark, sf)
        .filter(org.apache.spark.sql.functions.col("source") === docs.head.getAs[String]("source"))
        .select("doc_id").collect().map(_.getLong(0))
      srcDocs.filterNot(keptIds).foreach { dropped =>
        assert(all(dropped) <= worstKept, s"dropped doc $dropped outranks kept set")
      }
    }
  }

  test("q184 changelog round trip reconstructs the new snapshot exactly") {
    val rows = graft.ops.CoreOps.changelogRoundTrip(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_applied") == r.getAs[Long]("n_direct"))
      assert(r.getAs[Double]("sum_applied") == r.getAs[Double]("sum_direct"))
    }
  }

  test("q185 exact-corr: r in [-1,1]; agrees with built-in corr to float tolerance") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.EventOps.exactCorr(spark, sf).collect()
    assert(rows.nonEmpty)
    val builtin = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(corr(col("value"), hour(col("ts")).cast("double")).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val v = r.getAs[Double]("corr_r")
      assert(v >= -1.0 && v <= 1.0)
      // same statistic, different accumulation: must agree well within 1e-6
      assert(math.abs(v - builtin(r.getAs[String]("event_type"))) < 1e-6)
    }
  }

  test("q186 MAD: median/MAD are exact dyadic rationals; flags are threshold-consistent") {
    val rows = graft.ops.EventOps.madAnomalyDays(spark, sf).collect()
    assert(rows.nonEmpty)
    val med = rows.head.getAs[Double]("med")
    val mad = rows.head.getAs[Double]("mad")
    // exact middle-rank medians of integers are k or k.5 (×4 integral covers both)
    assert((med * 4).isWhole && (mad * 4).isWhole)
    // at least half the days sit within one MAD-ish band of the median
    rows.foreach { r =>
      assert(r.getAs[Boolean]("flagged") == (r.getAs[Double]("dev") > 4.4478 * mad))
    }
  }

  test("q170 streaming LSH equals batch q39 row-for-row") {
    val streaming = graft.streaming.DocsStream.lshNearDupStreaming(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
      .toSet
    val batch = graft.ops.DedupOps.lshNearDupPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
      .toSet
    assert(streaming == batch,
      s"streaming/batch LSH diverged: ${(streaming diff batch).size} extra, " +
        s"${(batch diff streaming).size} missing")
    assert(streaming.nonEmpty)
  }

  test("q170's general-vocabulary verify over its streamed band rows equals q39's general path") {
    import graft.ops.{DedupOps, TextFunctions}
    // the test corpus has a ≤ 64-word vocabulary, so both operators take the
    // mask path; this drives the > 64-word branch's shared code directly
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), array_distinct(TextFunctions.words(col("text"))).as("ws0"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    val members = graft.streaming.DocsStream.streamedBandMembers(spark, sf)
    val streamed = pairs(DedupOps.lshGeneralPairs(members, DedupOps.rarityTokenIds(docs),
      DedupOps.NearDupThreshold))
    val batch = pairs(DedupOps.lshNearDupGeneral(docs, DedupOps.NearDupThreshold))
    assert(streamed.length === streamed.distinct.length)
    assert(streamed.toSet == batch.toSet,
      s"${(streamed.toSet diff batch.toSet).size} extra, ${(batch.toSet diff streamed.toSet).size} missing")
    assert(streamed.nonEmpty)
  }

  test("q39 and q170 general-vocabulary verify is exact when two word hashes collide") {
    import graft.ops.{DedupOps, TextFunctions}
    // "aaaaa" and "bcrsf" share one TextFunctions.wordHash value, so docs 1
    // and 2 have identical hash sets (every band key agrees) but different
    // word sets: exact Jaccard 20/22, not 1. Filler docs push the
    // vocabulary past 64 words onto the general path.
    val common = (0 until 20).map(i => s"w$i")
    val corpus = Seq(
      1L -> (common :+ "aaaaa"), 2L -> (common :+ "bcrsf"), 3L -> common,
      4L -> (0 until 30).map(i => s"f$i"), 5L -> (0 until 30).map(i => s"g$i"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_collide").toString
    try {
      spark.createDataFrame(corpus.map { case (id, ws) => (id, ws.mkString(" ")) })
        .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
      val h = Seq("aaaaa", "bcrsf").map(w =>
        spark.range(1).select(TextFunctions.wordHash(lit(w))).head.getLong(0))
      assert(h(0) == h(1), "the two words no longer collide; pick another pair")
      val docs = Tables.documents(spark, tmp)
        .select(col("doc_id"), array_distinct(TextFunctions.words(col("text"))).as("ws0"))
      assert(DedupOps.smallVocab(docs).isEmpty)

      val sets = corpus.toMap.map { case (id, ws) => id -> ws.toSet }
      def exact(a: Long, b: Long): Double = {
        val (x, y) = (sets(a), sets(b))
        (x intersect y).size.toDouble / (x union y).size
      }
      for ((name, df) <- Seq(
          "q39" -> DedupOps.lshNearDupPairs(spark, tmp),
          "q170" -> graft.streaming.DocsStream.lshNearDupStreaming(spark, tmp))) {
        val rows = df.collect()
          .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
        assert(rows.exists(r => r._1 == 1L && r._2 == 2L), s"$name lost the colliding pair")
        rows.foreach { case (a, b, j) =>
          assert(math.abs(j - exact(a, b)) < 1e-4, s"$name ($a, $b): $j, exact ${exact(a, b)}")
        }
      }
    } finally {
      val landing = scala.util.Try(graft.streaming.DocsStream.stageDocsDirMulti(spark, tmp, nFiles = 2))
      for (d <- landing.toOption.toSeq :+ tmp)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    }
  }
}
