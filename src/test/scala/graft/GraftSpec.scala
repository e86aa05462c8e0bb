package graft

import graft.enrich._
import graft.ops._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one SparkSession). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** `n` zero-padded enrichment keys, so their sorted order (the batch order) is known. */
  def keyFrame(n: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0 until n).map(i => f"k$i%03d").toDF("title")
  }
}

/** Per-operator specs (SURVEY.md §5): golden checks of quirk semantics kept
  * from the reference, plus property-style invariants of the new operators.
  */
class CoreOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("dedup is idempotent and bounded by input (D1)") {
    val li = Tables.lineitem(spark, sf)
    val once = li.unionByName(li).dropDuplicates()
    assert(once.count() === li.dropDuplicates().count())
    assert(once.dropDuplicates().count() === once.count())
  }

  test("deterministic key-dedup keeps exactly one row per key (D2)") {
    val d = CoreOps.dedupByKeyDeterministic(spark, sf)
    assert(d.count() === d.select("l_orderkey").distinct().count())
  }

  test("market share sums to ~100% (A8)") {
    val total = CoreOps.marketShare(spark, sf)
      .agg(sum(col("market_share_pct"))).head.getDouble(0)
    assert(math.abs(total - 100.0) < 0.5)
  }

  test("top-k is a prefix of the full sort (A3/O2)") {
    val full = CoreOps.priorityAgg(spark, sf).collect().toSeq
    val k = full.take(3)
    assert(full.startsWith(k))
  }

  test("recursive hierarchy rollup partitions customers and orders (q188)") {
    val rows = CoreOps.recursiveRollup(spark, sf).collect()
    val nCust = Tables.customer(spark, sf).count()
    val nOrd = Tables.orders(spark, sf).count()
    // every customer lands under exactly one single-digit root; every order
    // is counted once; depth equals digits-1 of the deepest key
    assert(rows.map(_.getLong(1)).sum === nCust)
    assert(rows.map(_.getLong(4)).sum === nOrd)
    val maxKey = Tables.customer(spark, sf).agg(max(col("c_custkey"))).head.getLong(0)
    assert(rows.map(_.getInt(2)).max === maxKey.toString.length - 1)
    rows.foreach(r => assert(r.getLong(0) >= 0L && r.getLong(0) <= 9L))
  }

  test("range buckets partition all rows into ordered, roughly-even ranges (q204)") {
    val rows = CoreOps.rangeBucketAudit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._2).sum === Tables.orders(spark, sf).count())
    assert(rows.map(_._1).toSeq === rows.map(_._1).toSeq.sorted)
    // value ranges must not overlap across ascending buckets
    rows.sliding(2).foreach { case Array((_, _, _, maxLo, _), (_, _, minHi, _, _)) =>
      assert(maxLo <= minHi)
    case _ => ()
    }
    // the ~15-row sample at this SF is honestly noisy — that's what the
    // audit exists to expose; assert sanity, not tight balance
    rows.foreach { case (b, _, _, _, skew) => assert(skew > 0.0 && skew < 4.0, s"bucket $b: $skew") }
    assert(rows.count { case (_, _, _, _, skew) => skew >= 0.5 && skew <= 2.0 } >= 4)
  }

  test("join-free actual cardinality equals the executed join's count (q201)") {
    val r = CoreOps.joinCardEstimate(spark, sf).head
    val executed = Tables.orders(spark, sf)
      .join(Tables.events(spark, sf), col("o_custkey") === col("user_id")).count()
    assert(r.getLong(5) === executed)
    assert(r.getDouble(7) > 0.0)
    assert(r.getLong(6) <= math.min(r.getLong(2), r.getLong(3)))
  }

  test("type inference votes the right type per rendered column (q199)") {
    val got = CoreOps.typeInference(spark, sf).collect()
      .map(r => r.getString(0) -> r.getString(5)).toMap
    assert(got === Map("orderkey" -> "bigint", "status" -> "string",
      "orderdate" -> "date", "price" -> "double"))
    // every detector's count is bounded by n, and int implies double
    CoreOps.typeInference(spark, sf).collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(3) <= r.getLong(1)
        && r.getLong(4) <= r.getLong(1))
      assert(r.getLong(2) <= r.getLong(3), "integer strings must also match the double pattern")
    }
  }

  test("gdpr purge cascades, leaves zero leftovers, and purges something (q198)") {
    val rows = CoreOps.gdprPurge(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    rows.values.foreach { case (before, purged, after, leftover) =>
      assert(before === purged + after)
      assert(leftover === 0L)
    }
    // the deletion predicate must actually select subjects at this SF
    assert(rows("orders")._2 > 0L)
    // cascade: purged lineitems belong exactly to purged orders
    val purgedOrderKeys = Tables.orders(spark, sf)
      .filter(col("o_custkey") % 97 === 0).select(col("o_orderkey"))
    val expectedLi = Tables.lineitem(spark, sf)
      .join(purgedOrderKeys, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(rows("lineitem")._2 === expectedLi)
  }

  test("k-anonymity classes cover every customer and honor k (q192)") {
    val rows = CoreOps.kAnonymity(spark, sf).collect()
    val nCust = Tables.customer(spark, sf).count()
    assert(rows.map(_.getLong(3)).sum === nCust)
    rows.filter(_.getLong(0) < 2L).foreach { r =>
      assert(r.getLong(3) >= CoreOps.KAnonymityK, s"${r.getString(1)}/${r.getString(2)}")
    }
    // the suppressed bucket is always reported, even when empty
    assert(rows.count(_.getLong(0) === 2L) === 1)
  }

  test("dq audit rules fire with exact violation counts on dirty rows (q189)") {
    import spark.implicits._
    // 5 orders: one null custkey, one dup key, one bad status, one <=0 price
    Seq(
      (1L, Option(10L), "O", 100.0), (1L, Option(11L), "F", 50.0),
      (2L, Option.empty[Long], "P", 20.0), (3L, Option(12L), "Z", 30.0),
      (4L, Option(13L), "O", 0.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("dq_t_orders")
    // 4 lineitems: one orphan FK, one qty out of range, one null shipdate,
    // one discount out of range
    Seq(
      (1L, 10.0, Option("2024-01-01"), 0.05), (99L, 5.0, Option("2024-01-02"), 0.0),
      (2L, 60.0, Option.empty[String], 0.02), (3L, 1.0, Option("2024-01-03"), 0.5))
      .toDF("l_orderkey", "l_quantity", "l_shipdate", "l_discount")
      .createOrReplaceTempView("dq_t_lineitem")
    val got = spark.sql(CoreOps.dqAuditSql("dq_t_orders", "dq_t_lineitem"))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(got("orders.o_custkey.complete") === ((1L, false)))
    assert(got("orders.o_orderkey.unique") === ((1L, false)))
    assert(got("orders.o_orderstatus.accepted") === ((1L, false)))
    assert(got("orders.o_totalprice.positive") === ((1L, false)))
    assert(got("lineitem.l_orderkey.ref_orders") === ((1L, false)))
    assert(got("lineitem.l_quantity.range_1_50") === ((1L, false)))
    assert(got("lineitem.l_shipdate.complete") === ((1L, false)))
    assert(got("lineitem.l_discount.range_0_01") === ((1L, false)))
    // and on the real tables everything is green
    assert(CoreOps.dqAudit(spark, sf).collect().forall(_.getBoolean(3)))
  }

  test("semi and anti join partition the left relation (J3)") {
    val semi = CoreOps.semiJoinOrders(spark, sf).count()
    val orders = Tables.orders(spark, sf).count()
    val anti = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf).filter(col("l_quantity") >= 49.0)
          .select(col("l_orderkey").as("o_orderkey")),
        Seq("o_orderkey"), "left_anti").count()
    assert(semi + anti === orders)
  }
}

class EnrichmentSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("reference field rules: every category of dag:493-511, compound splitting (dag:521-524)") {
    val c = Rules.referenceFieldClassifier
    // one representative value per category, drawn from the prompt's own
    // keyword lists — all 18 categories incl. the 'Другое' fallback
    val table = Seq(
      "SaaS платформа"          -> "IT",
      "Финтех"                  -> "Финансы",
      "Розничная торговля"      -> "Ритейл",
      "Маркетплейсы"            -> "E-commerce",
      "Промышленность и заводы" -> "Производство",
      "Фармацевтика"            -> "Медицина",
      "EdTech стартап"          -> "Образование",
      "Digital агентство"       -> "Маркетинг",
      "Доставка и транспорт"    -> "Логистика",
      "Гостиницы"               -> "Туризм",
      "Операторы связи"         -> "Телеком",
      "Строительство"           -> "Недвижимость",
      "Нефть и газ"             -> "Энергетика",
      "Госуслуги"               -> "Государственный сектор",
      "Консалтинговые услуги"   -> "Консалтинг",
      "iGaming и gambling"      -> "Развлечения",
      "Юридические услуги"      -> "Сфера услуг",
      "сельское хозяйство"      -> Defaults.Other,
    )
    for ((v, want) <- table)
      assert(c.classifyOne(v).category === want, s"field '$v'")
    // prompt-order precedence: 'банковские услуги' is Финансы (rule 2), not
    // Сфера услуг (rule 17); 'интернет-магазины' is E-commerce, not Телеком
    assert(c.classifyOne("Банковские услуги").category === "Финансы")
    assert(c.classifyOne("Интернет-магазины").category === "E-commerce")
    // short-ASCII keywords are token-bounded: 'digital' must not trip 'it'
    assert(c.classifyOne("IT").category === "IT")
    assert(c.classifyOne("CRM-системы").category === "IT")
    // compound: first segment decides
    assert(c.classifyOne("Образование. Развлечения").category === "Образование")
    assert(c.classifyOne("Развлечения / Образование").category === "Развлечения")
    assert(c.classifyOne("видеоигры и гейминг").category === "Развлечения")
  }

  test("reference title rules: every category of the closed set (dag:187-209)") {
    val c = Rules.referenceTitleClassifier
    // all 21 categories: 20 keyword rules + the 'Другое' fallback (rule 2 of
    // the prompt: unmatched titles go to Другое, never a new category)
    val table = Seq(
      "Старший аналитик данных"   -> "Аналитик данных",
      "BI-аналитик"               -> "BI-аналитик",
      "Системный аналитик"        -> "Системный аналитик",
      "Бизнес-аналитик"           -> "Бизнес аналитик",
      "Веб-аналитик"              -> "Веб-аналитик",
      "Финансовый аналитик"       -> "Финансовый аналитик",
      "Продуктовый аналитик"      -> "Продуктовый аналитик",
      "ML-инженер"                -> "ML/AI-инженер",
      "Senior Python разработчик" -> "Разработчик",
      "DevOps-инженер"            -> "DevOps-инженер",
      "Директор по маркетингу"    -> "Директор по маркетингу",
      "Генеральный директор"      -> "Генеральный директор",
      "Коммерческий директор"     -> "Коммерческий директор",
      "Директор по продукту"      -> "Директор по продукту",
      "Маркетолог-аналитик"       -> "Маркетолог",
      "Главный маркетолог"        -> "Главный маркетолог",
      "Руководитель по контенту"  -> "Руководитель по контенту",
      "Директор по продажам"      -> "Директор по продажам",
      "Специалист по трафику"     -> "Специалист по трафику",
      "Менеджер продукта"         -> "Менеджер продукта",
      "Водитель"                  -> Defaults.Other,
    )
    for ((t, want) <- table)
      assert(c.classifyOne(t).category === want, s"title '$t'")
    // every produced category is in the closed set (prompt rule 1)
    val closed = Rules.referenceTitleRules.map(_.category).toSet + Defaults.Other
    for ((t, _) <- table) assert(closed.contains(c.classifyOne(t).category))
  }

  test("enrichment totality: every row classified, empty keys -> 'Не указано' (dag:750-753)") {
    val df = Seq((1L, "blue rod"), (2L, ""), (3L, "  "), (4L, "weird thing"))
      .toDF("id", "title")
    val out = Enrichment.enrich(df, "title", Rules.partNameClassifier, "cat")
    val m = out.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m(1L) === "Rod")
    assert(m(2L) === Defaults.NotSpecified)
    assert(m(3L) === Defaults.NotSpecified)
    assert(m(4L) === Defaults.Unclassified)
    assert(out.filter(col("cat").isNull).count() === 0)
  }

  test("retry recovers dropped keys; hallucinated keys are guarded out (dag:283-318, 590-603)") {
    val flaky = new FlakyClassifier(Rules.partNameClassifier, dropEveryNth = 2)
    val out = Enrichment.classifyBatchWithRetry(flaky, Seq("blue rod", "old gear", "new bolt"),
      maxRetries = 1, retryOther = false)
    assert(out.map(_.original).toSet === Set("blue rod", "old gear", "new bolt"))
    assert(!out.exists(_.original == "__hallucinated_key__"))
    assert(out.forall(_.category != Defaults.Unclassified))
  }

  test("retry exhaustion stubs with the default, never drops rows (dag:310-326)") {
    val alwaysFail = new Classifier { def classify(b: Seq[String]) = Nil }
    val out = Enrichment.classifyBatchWithRetry(alwaysFail, Seq("a", "b"), 2, retryOther = false)
    assert(out.map(_.original) === Seq("a", "b"))
    assert(out.forall(_.category === Defaults.Unclassified))
  }

  test("'Другое' retried only in field mode (asymmetric semantics, dag:286-291 vs 623-628)") {
    var calls = 0
    val other = new Classifier {
      def classify(b: Seq[String]) = { calls += 1; b.map(Classified(_, Defaults.Other, "")) }
    }
    Enrichment.classifyBatchWithRetry(other, Seq("x"), maxRetries = 2, retryOther = false)
    assert(calls === 1) // title mode: Другое accepted first try
    calls = 0
    Enrichment.classifyBatchWithRetry(other, Seq("x"), maxRetries = 2, retryOther = true)
    assert(calls === 3) // field mode: retried until budget exhausted
  }

  test("enrich sends no key more than maxRetries + 1 times") {
    val sent = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val counting = new Classifier {
      def classify(b: Seq[String]) = {
        b.foreach(k => sent.merge(k, 1, (x: Integer, y: Integer) => x + y))
        b.filterNot(_.endsWith("7")).map(Classified(_, "C", "")) // *7 keys never answered
      }
    }
    val out = Enrichment.enrich(keyFrame(100), "title", counting, "cat", batchSize = 15, maxRetries = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sent.size === 100)
    sent.forEach((k, n) => assert(n.intValue === (if (k.endsWith("7")) 3 else 1), k))
    assert(out.count(_._2 == Defaults.Unclassified) === 10)
  }

  test("enrich coalesces each round's misses into full batches") {
    // every 5th key misses its first try: 20 misses spread over all 7 batches
    // of 15, re-asked as ceil(20/15) = 2 calls, not one call per batch
    val tries = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val dropsFirst = new Classifier {
      def classify(b: Seq[String]) = {
        calls.incrementAndGet()
        b.filter(k => tries.merge(k, 1, (x: Integer, y: Integer) => x + y) > 1 || k.takeRight(2).toInt % 5 != 0)
          .map(Classified(_, "C", ""))
      }
    }
    val out = Enrichment.enrich(keyFrame(100), "title", dropsFirst, "cat", batchSize = 15, maxRetries = 1)
    assert(out.filter(col("cat") =!= "C").count() === 0)
    assert(calls.get === 7 + 2)
  }

  test("FlakyClassifier called concurrently drops each residue key exactly once") {
    val keys = (0 until 200).map(i => s"key $i")
    val flaky = new FlakyClassifier(Rules.partNameClassifier, dropEveryNth = 3, hallucinate = false)
    val threads = 8
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val replies = (1 to threads).map(_ => pool.submit(() => { start.await(); flaky.classify(keys) }))
      start.countDown()
      val seen = replies.flatMap(_.get.map(_.original)).groupBy(identity).map { case (k, v) => k -> v.size }
      for (k <- keys) {
        val residue = math.floorMod(k.hashCode, 3) == 0
        assert(seen.getOrElse(k, 0) === (if (residue) threads - 1 else threads), k)
      }
    } finally pool.shutdownNow()
  }
}

class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  test("latest-K discovery: filter, lexicographic sort, take right (S4/O1/P1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_disc").toString
    try {
      Seq("vacancies_001.csv", "vacancies_003.csv", "vacancies_002.csv", "notes.txt", "x.csv")
        .foreach(f => java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, f), "id\n"))
      // the len>10 guard is on the full path, matching the reference's check on
      // full S3 keys (dag:82) — so short *names* under a long dir still qualify,
      // and lexicographic order puts "x.csv" last
      val got = graft.pipeline.Pipeline.discoverLatestCsvs(spark, dir, k = 2)
      assert(got.map(_.split('/').last) === Seq("vacancies_003.csv", "x.csv"))
      assert(!got.exists(_.endsWith("notes.txt")))
      val all = graft.pipeline.Pipeline.discoverLatestCsvs(spark, dir, k = 10)
      assert(all.map(_.split('/').last) ===
        Seq("vacancies_001.csv", "vacancies_002.csv", "vacancies_003.csv", "x.csv"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("pipeline CSV sink round-trips (S5)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink").toFile
    val out = tmp.toString + "/out"
    try {
      val df = graft.pipeline.Pipeline.pipelineQuery(spark, sf)
      graft.pipeline.Pipeline.writeCsv(df.limit(10), out)
      val back = spark.read.option("header", "true").csv(out)
      assert(back.count() === 10)
      assert(back.columns.contains("normalized_title"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("the pipeline's deduped-frame cache holds blocks on a second run after releaseAll (q22)") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val q22 = SparkEntry.queries("q22_pipeline_e2e")
    q22(spark, sf).collect()
    Caches.releaseAll()
    val again = q22(spark, sf)
    again.collect()
    try {
      val caches = again.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
      assert(caches.nonEmpty, "the deduped frame must be read through its cache")
      val stored = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0).map(_.id).toSet
      caches.foreach { r =>
        assert(stored.contains(r.cacheBuilder.cachedColumnBuffers.id),
          "the second run's cache holds no blocks: a dead CacheManager entry was reused")
      }
    } finally Caches.releaseAll()
  }

  test("utf-8-sig CSV sink: BOM prepended to every part file, content intact (S5, dag:830)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink_bom").toFile
    val out = tmp.toString + "/out"
    try {
      val df = Seq((1L, "Python разработчик"), (2L, "Маркетолог")).toDF("id", "title")
      graft.pipeline.Pipeline.writeCsv(df.repartition(2), out, bom = true)
      val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty)
      parts.foreach { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        assert(bytes.take(3).toSeq === Seq(0xEF.toByte, 0xBB.toByte, 0xBF.toByte),
          s"${f.getName} must start with the UTF-8 BOM")
      }
      // content after the BOM is the same UTF-8 CSV (Cyrillic intact)
      val back = spark.read.option("header", "true").csv(out).collect()
      assert(back.length === 2)
      assert(back.map(_.getString(1)).toSet === Set("Python разработчик", "Маркетолог"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }
}

class ExtensionSpec extends AnyFunSuite {
  import TestSpark._

  test("exact Jaccard join equals brute force on BOTH physical paths") {
    // adaptive choice lands on the dense-domain bitmask path here (vocab ≤ 64)
    val mask = DedupOps.nearDupJaccard(spark, sf, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // forced general path = PPJoin prefix filtering (lossless for J ≥ t)
    val general = DedupOps.nearDupJaccard(spark, sf, 0.9, forceGeneral = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), array_sort(array_distinct(split(col("text"), " "))).as("ws"))
    val brute = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", size(array_intersect(col("a.ws"), col("b.ws"))).cast("double") /
        size(array_union(col("a.ws"), col("b.ws"))))
      .filter(col("j") >= 0.9)
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mask === brute)
    assert(general === brute)
  }

  test("simhash band blocking is lossless for hamming <= 3 (equals brute force)") {
    val rows = DedupOps.simhashNearDup(spark, sf, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val blocked = rows.toSet
    assert(rows.length === blocked.size, "a pair was emitted more than once")
    val sh = DedupOps.simhash(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, sa) <- sh; (idb, sb) <- sh if ida < idb
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (ida, idb, d.toLong)).toSet
    assert(blocked === brute)
  }

  test("the 64-bit Hamming core emits each pair once, also when it shares all four bands") {
    import spark.implicits._
    val base = 0x0123456789ABCDEFL
    val fps = Seq(
      1L -> base,
      2L -> base,                                // = 1: shares all four bands
      3L -> (base ^ 0x3L),                       // band 0 differs: shares three
      4L -> (base ^ (1L << 16) ^ (1L << 48)),    // bands 1 and 3 differ: shares two
      5L -> (base ^ 0x0001000100010001L),        // every band differs from 1: distance 4
      6L -> ~base)                               // far from everything
    val got = graft.ops.Banding.hammingNearDup(fps.toDF("doc_id", "fp"), "fp", 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    def bands(x: Long) = (0 until 4).map(k => (x >>> (k * 16)) & 0xffffL)
    val expect = (for {
      (ida, a) <- fps; (idb, b) <- fps if ida < idb
      if bands(a).zip(bands(b)).exists { case (x, y) => x == y }
      h = java.lang.Long.bitCount(a ^ b) if h <= 4
    } yield (ida, idb, h.toLong)).toSet
    assert(got.size === got.distinct.size, s"a pair was emitted more than once: $got")
    assert(got.toSet === expect)
    assert(got.contains((1L, 2L, 0L)) && got.contains((1L, 3L, 2L)) && got.contains((1L, 4L, 2L)))
    assert(!got.exists(p => p._1 == 1L && p._2 == 5L), "a pair sharing no band is not a candidate")
  }

  test("dedup clusters equal union-find over the near-dup pair graph (q101)") {
    // independent ground truth: driver-side union-find over the SAME pairs
    // (the pairs themselves are oracle-gated via q38). This also covers the
    // SF where the recursive-CTE SQL oracle is infeasible (giant component).
    val pairs = DedupOps.nearDupJaccard(spark, sf, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val docs = Tables.documents(spark, sf).select(col("doc_id")).collect()
      .map(_.getLong(0))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) { parent(r) = parent.getOrElse(parent(r), parent(r)); r = parent(r) }
      r
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = docs.map(d => d -> find(d)).toMap
    val got = DedupOps.dedupClusters(spark, sf, 0.9).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("compaction collapses a many-small-files dir without losing rows") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact").toString
    try {
      val src = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_totalprice"))
      src.repartition(20).write.mode("overwrite").parquet(base + "/small")
      val before = new java.io.File(base + "/small").listFiles()
        .count(f => f.getName.startsWith("part-"))
      assert(before === 20)
      val after = Compaction.compactParquet(spark, base + "/small", base + "/big",
        targetBytes = Long.MaxValue)
      assert(after === 1, s"expected one near-target file, got $after")
      val a = spark.read.parquet(base + "/big").orderBy("o_orderkey").collect()
      val b = src.orderBy("o_orderkey").collect()
      assert(a.sameElements(b))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("schema evolution: mergeSchema unions columns across file generations") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "v1")
        .write.mode("overwrite").parquet(base + "/gen=1")
      Seq((3L, "c", 9.5)).toDF("id", "v1", "v2")
        .write.mode("overwrite").parquet(base + "/gen=2")
      val merged = spark.read.option("mergeSchema", "true").parquet(base)
      assert(merged.columns.toSet === Set("id", "v1", "v2", "gen"))
      // old-generation rows surface the new column as null, not an error
      assert(merged.filter(col("gen") === 1 && col("v2").isNull).count() === 2)
      // per-file provenance for lineage (the reference tracked source files too)
      val withFile = merged.select(input_file_name().as("f"), col("id"))
      assert(withFile.filter(col("f").contains("gen=1")).count() === 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("custom sink commit protocol exposes only committed files (q110)") {
    graft.sources.GraftSinkQueries.sinkRoundTrip(spark, sf).count() // stages once
    val base = graft.ops.Staging.storedDir("sink", sf) + "/out"
    val files = new java.io.File(base).listFiles().map(_.getName)
    assert(files.contains("_GRAFT_COMMITTED"))
    assert(!files.exists(_.startsWith("_staging")), "staging must vanish at job commit")
    assert(files.exists(_.startsWith("part-")))
    // the manifest's row counts must cover the table exactly
    val src = scala.io.Source.fromFile(base + "/_GRAFT_COMMITTED")
    val total = try src.getLines().map(_.split("\t")(1).toLong).sum finally src.close()
    assert(total === Tables.orders(spark, sf).count())
  }

  test("custom sink abort leaves the target untouched") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink_abort").toFile
    val target = tmp.toString + "/out"
    try {
      // a row-level assert_true fails the task mid-write: the job must abort,
      // not half-commit
      val failing = Tables.orders(spark, sf)
        .select(col("o_orderkey"),
          expr("assert_true(o_orderkey < 10)").as("guard")) // most keys violate -> task failure
      intercept[Exception] {
        failing.write.format("graft.sources.GraftCommitSink")
          .option("path", target)
          .option("ddl", "o_orderkey BIGINT, guard STRING")
          .mode("append").save()
      }
      val out = new java.io.File(target)
      val leftover = if (out.exists()) out.listFiles().map(_.getName).toSeq else Nil
      assert(!leftover.contains("_GRAFT_COMMITTED"), "no commit manifest after abort")
      assert(!leftover.exists(_.startsWith("part-")), s"no visible data after abort: $leftover")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("sequence packing: packs are contiguous and budget-bounded (q102)") {
    val rows = TextOps.packSequences(spark, sf, budget = 512).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // contiguity: pack ids are non-decreasing in doc order, starting at 0
    assert(rows.head._3 === 0L)
    assert(rows.sliding(2).forall { case Array(a, b) => b._3 >= a._3; case _ => true })
    // every pack's token total stays within budget + one straddling doc
    val maxDoc = rows.map(_._2).max
    rows.groupBy(_._3).values.foreach { pack =>
      assert(pack.map(_._2).sum <= 512 + maxDoc)
    }
  }

  test("mixture sampling rates are bounded and sampled <= total (q103)") {
    SamplingOps.mixtureSample(spark, sf).collect().foreach { r =>
      val (total, sampled, rate) =
        (r.getAs[Long]("n_total"), r.getAs[Long]("n_sampled"), r.getAs[Long]("rate_pct"))
      assert(sampled >= 0 && sampled <= total)
      assert(rate >= 25 && rate <= 70)
    }
  }

  test("z-order buckets bound BOTH dimensions at once (q104)") {
    // a z-bucket (zval >> 12) leaves 6 free low bits per dimension, so every
    // bucket's bounding box is < 64 wide in x AND y — the property row-group
    // pruning relies on; a lexicographic (x, y) sort has no such y bound
    val rows = EventOps.zorderStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("x_max") - r.getAs[Long]("x_min") < 64)
      assert(r.getAs[Long]("y_max") - r.getAs[Long]("y_min") < 64)
    }
  }

  test("LSH near-dup is a high-recall subset of the exact join") {
    val exact = DedupOps.nearDupJaccard(spark, sf, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.lshNearDupPairs(spark, sf, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((lsh -- exact).isEmpty, "LSH must not invent pairs (precision exact)")
    assert(lsh.size >= (exact.size * 0.9).toInt, s"recall too low: ${lsh.size}/${exact.size}")
  }

  test("t-digest: rank error bounded, partial digests merge to the same estimates (q137)") {
    import graft.functions.TDigestBuffer
    // unit-level mergeability + accuracy on a skewed distribution
    val rnd = new scala.util.Random(3)
    val vals = Array.fill(20000)(math.pow(rnd.nextDouble(), 3) * 1000.0)
    val direct = new TDigestBuffer(100.0)
    vals.foreach(direct.add(_, 1L))
    val merged = new TDigestBuffer(100.0)
    vals.grouped(2000).foreach { chunk =>
      val part = new TDigestBuffer(100.0)
      chunk.foreach(part.add(_, 1L))
      part.compress()
      part.cs.foreach { case (m, w) => merged.add(m, w) }
    }
    val sorted = vals.sorted
    def rankOf(v: Double): Double = {
      val i = java.util.Arrays.binarySearch(sorted, v)
      val pos = if (i >= 0) i else -i - 1
      pos.toDouble / sorted.length
    }
    for (p <- Seq(0.01, 0.1, 0.5, 0.9, 0.99); (b, tag) <- Seq((direct, "direct"), (merged, "merged"))) {
      val est = b.quantile(p)
      assert(math.abs(rankOf(est) - p) <= 0.02, s"$tag p=$p est=$est rank=${rankOf(est)}")
    }
    // the grouped query: in-query value-window flags (also oracle-asserted
    // at the gate SF) must hold at the spec SF, with exact group counts
    val rows = CoreOps.tdigestQuantiles(spark, sf).collect()
    assert(rows.nonEmpty)
    val nByFlag = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getBoolean(1), s"${r.getString(0)} p50 outside [p45, p55]")
      assert(r.getBoolean(2), s"${r.getString(0)} p90 outside [p85, p95]")
      assert(r.getLong(3) === nByFlag(r.getString(0)))
    }
  }

  test("Misra-Gries: envelope holds under any chunking; merged == stream bound (q147)") {
    import graft.functions.MGBuffer
    val rnd = new scala.util.Random(7)
    // zipf-ish stream over 200 distinct words
    val stream = Array.fill(50000)("w" + (math.pow(rnd.nextDouble(), 2) * 200).toInt)
    val exact = stream.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val k = 16
    val bound = stream.length / (k + 1)
    // direct
    val direct = new MGBuffer(k)
    stream.foreach(direct.add(_, 1L))
    // merged from 10 partial buffers (partition simulation)
    val merged = new MGBuffer(k)
    stream.grouped(5000).foreach { chunk =>
      val part = new MGBuffer(k)
      chunk.foreach(part.add(_, 1L))
      part.m.foreach { case (w, c) => merged.add(w, c) }
    }
    for ((buf, tag) <- Seq((direct, "direct"), (merged, "merged"))) {
      assert(buf.m.size <= k, s"$tag: ${buf.m.size} counters > k")
      exact.foreach { case (w, cnt) =>
        val est = buf.m.getOrElse(w, 0L)
        assert(est <= cnt && est >= cnt - bound,
          s"$tag: $w est $est outside [${cnt - bound}, $cnt]")
      }
    }
    // the grouped query: envelope flags must hold (also oracle-asserted)
    val rows = TextOps.heavyHitters(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(3), s"${r.getString(0)}/${r.getString(1)}"))
  }

  test("histogram quantile sketch: merged==full paths, error bounded by bin width (q136)") {
    val rows = EventOps.histQuantileMerge(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) === r.getDouble(4), "p50: merge(partials) must equal full scan")
      assert(r.getDouble(3) === r.getDouble(5), "p90: merge(partials) must equal full scan")
    }
    // sketch error vs the exact ORDER-STAT quantile (the ⌈p·n⌉-th sorted
    // value — the sketch's own definition, no interpolation) is one-sided
    // and bounded by the bin width: sketch = upper edge of the bin holding
    // that order stat, so 0 ≤ sketch − exact < 4
    val exact = Tables.events(spark, sf)
      .groupBy(date_trunc("month", col("ts")).as("month"), col("event_type"))
      .agg(sort_array(collect_list(col("value"))).as("vs"))
      .select(col("month"), col("event_type"),
        element_at(col("vs"), ceil(size(col("vs")) * 0.5).cast("int")).as("e50"),
        element_at(col("vs"), ceil(size(col("vs")) * 0.9).cast("int")).as("e90"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    rows.foreach { r =>
      val (e50, e90) = exact((r.getTimestamp(0), r.getString(1)))
      val d50 = r.getDouble(2) - e50
      val d90 = r.getDouble(3) - e90
      assert(d50 >= 0.0 && d50 < 4.0, s"p50 sketch error out of [0,4): ${r.getDouble(2)} vs $e50")
      assert(d90 >= 0.0 && d90 < 4.0, s"p90 sketch error out of [0,4): ${r.getDouble(3)} vs $e90")
    }
  }

  test("dedup clusters: star fallback equals label propagation on a high-diameter chain") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a 60-node chain: diameter 59 — the shape that defeats plain
    // propagation and exercises the large-star/small-star fallback
    val n = 60L
    val nodes = (0L until n).toDF("doc_id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val edgesSym = chain.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(chain.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // a 2-round budget cannot converge -> the loop would fall back to star
    assert(DedupOps.labelPropagation(nodes, edgesSym, 2).isEmpty)
    val viaProp = labels(DedupOps.labelPropagation(nodes, edgesSym, 50).get)
    val viaStar = labels(DedupOps.starLabels(chain))
    assert(viaProp === viaStar, "star contraction must agree with converged propagation")
    assert(viaStar.values.toSet === Set(0L), "one chain = one component rooted at its min")
    // two chains + an isolated node: per-component minima; star labels the
    // pair endpoints only
    val chain2 = ((0L until 30L).map(i => (i, i + 1)) ++ (40L until 59L).map(i => (i, i + 1)))
      .toDF("doc_a", "doc_b")
    val nodes2 = ((0L to 30L) ++ (40L to 59L) ++ Seq(100L)).toDF("doc_id")
    val star2 = labels(DedupOps.starLabels(chain2))
    assert((0L to 30L).forall(star2(_) == 0L))
    assert((40L to 59L).forall(star2(_) == 40L))
    assert(!star2.contains(100L))
    // components on long ids takes the single-task union-find (both graphs
    // are far under the cutover) and must agree with star, singletons
    // included — it joins them back labelling themselves. This equivalence
    // is what makes the cutover invisible to every oracle.
    val viaUf = labels(DedupOps.components(nodes, chain))
    assert(viaUf === viaStar, "union-find must agree with star contraction")
    val uf2 = labels(DedupOps.components(nodes2, chain2))
    assert(uf2 === star2 + (100L -> 100L), "union-find must agree on multi-component + singleton")
    // the full recompute every incremental result is checked against: star
    // over all edges, ids in no edge labelling themselves
    def fullRecompute(ids: Seq[Long], pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val star = labels(DedupOps.starLabels(pairs))
      ids.map(i => i -> star.getOrElse(i, i)).toMap
    }
    // incremental CC: yesterday = the two chains solved; today a bridge
    // edge merges them, a new chain (200..202) arrives, and node 300 is an
    // isolated newcomer — the contract-and-remap result must equal the
    // full recompute over ALL edges
    val oldLabels = DedupOps.components(nodes2, chain2)
    val delta = Seq((30L, 40L), (200L, 201L), (201L, 202L), (5L, 202L))
      .toDF("doc_a", "doc_b")
    val newNodes = Seq(200L, 201L, 202L, 300L).toDF("doc_id")
    val inc = labels(DedupOps.incrementalCC(oldLabels, newNodes, delta))
    val fullIds = (0L to 30L) ++ (40L to 59L) ++ Seq(100L, 200L, 201L, 202L, 300L)
    val full = fullRecompute(fullIds, chain2.unionByName(delta))
    assert(inc === full, "incremental CC must equal the full recompute")
    assert(inc(300L) === 300L && inc(202L) === 0L && inc(45L) === 0L,
      "bridge merges everything through the new chain into component 0; isolates self-label")
    // CHAINED incremental (q341's synthetic twin): a SECOND night's delta
    // applied onto the first incremental OUTPUT must still equal the full
    // recompute — i.e. incrementalCC's output preserves the label-minimality
    // invariant its own input contract demands, so nights compose
    val incLabels1 = DedupOps.incrementalCC(oldLabels, newNodes, delta)
    val delta2 = Seq((100L, 300L), (400L, 401L)).toDF("doc_a", "doc_b")
    val newNodes2 = Seq(400L, 401L).toDF("doc_id")
    val inc2 = labels(DedupOps.incrementalCC(incLabels1, newNodes2, delta2))
    val full2 = fullRecompute(fullIds ++ Seq(400L, 401L),
      chain2.unionByName(delta).unionByName(delta2))
    assert(inc2 === full2, "chained incremental CC must equal the full recompute")
    assert(inc2(300L) === 100L && inc2(401L) === 400L,
      "night-2 bridge merges night-1's newcomer with the old isolate; the new chain self-roots")
  }

  test("components: int ids take the distributed loop and agree with union-find") {
    import spark.implicits._
    // The cutover sends LongType ids under SingleTaskCCMaxEdges to the
    // single-task union-find and everything else to the loop (propagation
    // with pointer jumping, star fallback, narrowed session clone). Every
    // registry graph is under the cutover, so casting the ids to int is how
    // the loop stays exercised — on toy graphs and on q144's real pairs.
    def asInt(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(df.columns.toSeq.map(c => col(c).cast("int")): _*)
    def check(nodes: org.apache.spark.sql.DataFrame, pairs: org.apache.spark.sql.DataFrame): Int = {
      val viaUf = DedupOps.components(nodes, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val loop = DedupOps.components(asInt(nodes), asInt(pairs))
      // the union-find's LongMap labels are longs: int labels prove the loop ran
      assert(loop.schema("label").dataType === org.apache.spark.sql.types.IntegerType)
      val viaLoop = loop.collect().map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap
      assert(viaLoop === viaUf, "the loop must agree with union-find")
      viaUf.values.toSet.size
    }
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    assert(check((0L until 60L).toDF("doc_id"), chain) === 1)
    // two chains + singleton, one chain given in reverse orientation
    val chain2 = ((0L until 30L).map(i => (i, i + 1)) ++ (40L until 59L).map(i => (i + 1, i)))
      .toDF("doc_a", "doc_b")
    assert(check(((0L to 30L) ++ (40L to 59L) ++ Seq(100L)).toDF("doc_id"), chain2) === 3)
    // sf0.001's 15 users share no capped anchor (the empty-graph case);
    // sf0.01's graph merges users into real communities
    val merged = Seq(sf, sf.replace("sf0.001", "sf0.01")).map { dir =>
      val users = Tables.events(spark, dir).select(col("user_id").as("doc_id")).distinct()
      check(users, EventOps.cooccurrencePairs(spark, dir)) < users.count()
    }
    assert(merged === Seq(false, true))
  }

  test("components unpersists its pair cache and cuts its labels from the pair lineage") {
    import spark.implicits._
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.storage.StorageLevel
    // every evaluation of the pair pipeline is counted
    val evals = spark.sparkContext.longAccumulator("cc-pair-evals")
    val tick = udf { (a: Long) => evals.add(1); a }
    val raw = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
      .select(tick(col("a")).as("a"), col("b"))
    val nodes = (0L to 12L).toDF("doc_id")
    for ((route, pairs) <- Seq("union-find" -> raw,
        "loop" -> raw.select(col("a").cast("int").as("a"), col("b").cast("int").as("b")))) {
      // the frame components caches: its canonicalised pairs (cached here
      // first, so the lookup below names exactly that frame)
      val canon = pairs
        .select(least(col("a"), col("b")).as("doc_a"), greatest(col("a"), col("b")).as("doc_b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      assert(canon.storageLevel === StorageLevel.MEMORY_AND_DISK)
      val out = DedupOps.components(nodes, pairs)
      assert(canon.storageLevel === StorageLevel.NONE, s"$route: the pair cache must be released")
      val seen = evals.value
      val rows = out.collect()
      assert(rows.length === 13 && rows.count(r => r.get(0) == r.get(1)) === 4)
      assert(evals.value === seen,
        s"$route: consuming the labels after the release must not re-run the pair pipeline")
      assert(out.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.isEmpty,
        s"$route: the returned plan must not read a cache")
    }
  }

  test("ANN near-dup: exact precision and >=90% recall on a true near-dup corpus (q135)") {
    import spark.implicits._
    // the testdata embeddings have no true near-dups (max cosine ≈ 0.44), so
    // the banding's recall claim needs a corpus WITH them: 150 seeded random
    // vectors plus 50 small perturbations (cosine vs their base ≥ ~0.95)
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    val base = Vector.fill(150)(vec())
    val dups = (0 until 50).map { i =>
      base(i).map(x => x + (rnd.nextDouble() * 0.04 - 0.02).toFloat)
    }
    val rows = (base ++ dups).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = rows.toDF("vec_id", "embedding")
    val ann = SimilarityOps.annNearDupOn(df, 0.9).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // brute-force truth on the same frame, same math
    import graft.functions.VectorFunctions.dotp
    val e = df.select(col("vec_id"), col("embedding"),
      sqrt(dotp(col("embedding"), col("embedding"))).as("nrm"))
    val brute = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", dotp(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("sim") >= 0.9)
      .select(col("a.vec_id"), col("b.vec_id"), graft.ops.OracleMath.stableRound(col("sim"), 6))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(brute.size >= 50, s"corpus must actually contain near-dups: ${brute.size}")
    assert((ann.keySet -- brute.keySet).isEmpty, "ANN must not invent pairs (verify is exact)")
    ann.foreach { case (k, s) => assert(s === brute(k), s"sim mismatch at $k") }
    assert(ann.size >= (brute.size * 0.9).toInt, s"recall too low: ${ann.size}/${brute.size}")
  }

  test("native dot kernel equals the higher-order-function fold bit-for-bit") {
    val e = Tables.embeddings(spark, sf).limit(50)
    val diff = e.select(
        graft.functions.VectorFunctions.dotp(col("embedding"), col("embedding")).as("k"),
        aggregate(zip_with(col("embedding"), col("embedding"),
          (x, y) => x.cast("double") * y.cast("double")), lit(0.0), _ + _).as("h"))
      .filter(col("k") =!= col("h")).count()
    assert(diff === 0)
  }

  test("kNN self-consistency: query's own label among top neighbours' labels") {
    val top = SimilarityOps.knnBruteForce(spark, sf, queryId = 0L, k = 10).collect()
    assert(top.length === 10)
    assert(top.map(_.getDouble(2)).toSeq === top.map(_.getDouble(2)).toSeq.sorted.reverse)
  }

  test("streaming hourly aggregation equals the batch plan") {
    val stream = graft.streaming.EventsStream.hourlyByTypeStreaming(spark, sf)
    val batch = EventOps.hourlyByType(spark, sf)
    assert(stream.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(stream).count() === 0)
  }

  test("heap top-k aggregate equals row_number ranking; ties break by payload") {
    import TestSpark.spark.implicits._
    val df = Seq((1, 5.0, 10L), (1, 5.0, 11L), (1, 7.0, 12L), (1, 3.0, 13L), (2, 1.0, 20L))
      .toDF("g", "score", "id")
    val got = df.groupBy(col("g"))
      .agg(graft.functions.VectorFunctions.topk(col("score"), col("id"), 2).as("top"))
      .orderBy(col("g")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1))
    // g=1: 7.0->12 first, then tie at 5.0 -> smaller payload 10; g=2: k>size -> all
    assert(got.toSeq === Seq(1 -> Seq(12L, 10L), 2 -> Seq(20L)))
  }

  test("KMV sketch: k smallest DISTINCT hashes, partition/merge-order invariant, exact under k") {
    // values 0..199 each duplicated 3x (dedup must hold), hashed by a
    // permutation h = (v*37) % 200 so the minima are NOT the smallest values
    val base = spark.range(600).select(((col("id") % 200) * 37 % 200).as("h"))
    val expect = (0L until 200L).map(v => v * 37 % 200).distinct.sorted.take(16)
    for (parts <- Seq(1, 3, 32)) {
      val got = base.repartition(parts).agg(graft.functions.VectorFunctions.kmv(col("h"), 16)).head.getSeq[Long](0)
      assert(got.toSeq === expect, s"parts=$parts")
    }
    // under-k group returns the full distinct set ascending
    val small = spark.range(30).select((col("id") % 5).as("h"))
      .agg(graft.functions.VectorFunctions.kmv(col("h"), 16)).head.getSeq[Long](0)
    assert(small.toSeq === Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("KMV set operations: exact below k, error-bounded estimates above (q272)") {
    val rows = SamplingOps.kmvOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nA, nB, nBoth) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (nU, jac, rho, estBoth) =
        (r.getLong(5), r.getDouble(7), r.getDouble(8), r.getDouble(9))
      val union = nA + nB - nBoth
      if (nU < SamplingOps.KmvK) {
        // below k the union sketch IS the hash set: rho*estU must equal the
        // exact intersection (up to hash collisions folding distinct users,
        // which the 48-bit domain makes vanishingly unlikely at spec scale)
        assert(math.abs(estBoth - nBoth) <= 1e-6, s"row $r")
      } else {
        // k=64 KMV: std err ~ 1/sqrt(k-2) ~ 13%; allow a generous 4-sigma
        // envelope on the Jaccard estimate so the spec pins sanity, not luck
        assert(math.abs(rho - jac) <= 0.52, s"row $r")
        assert(estBoth >= 0.0 && estBoth <= 4.0 * union.toDouble, s"row $r")
      }
    }
  }

  test("salted two-phase aggregation equals plain groupBy exactly") {
    val salted = CoreOps.saltedAgg(spark, sf)
    val plain = Tables.orders(spark, sf).groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double").as("total_price"))
      .orderBy(col("o_orderpriority"))
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("stateful streaming sessionization (mapGroupsWithState) equals the batch window plan") {
    val stream = graft.streaming.SessionStream.sessionsStreaming(spark, sf)
    val batch = EventOps.sessionCounts(spark, sf)
    assert(stream.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(stream).count() === 0)
  }

  test("as-of join equals the window-composed encoding (custom SparkPlan)") {
    import org.apache.spark.sql.expressions.Window
    val asof = EventOps.asofAttribution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // composable encoding: range join + keep latest click per purchase
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("ts").as("cts"))
    val w = Window.partitionBy(col("purchase_id")).orderBy(col("cts").desc)
    val brute = p.join(c, col("user_id") === col("cu") && col("ts") >= col("cts"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        expr("unix_micros(ts) DIV 1000000 - unix_micros(cts) DIV 1000000").as("lag"))
      .orderBy(col("purchase_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(asof === brute)
  }

  test("as-of join handles left rows with no prior right row (inner semantics)") {
    import TestSpark.spark.implicits._
    val l = Seq((1L, 10L, "a"), (1L, 5L, "b"), (2L, 7L, "c"), (3L, 1L, "d"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 6L, "x"), (1L, 9L, "y"), (2L, 8L, "z"), (4L, 1L, "w"))
      .toDF("rk", "rt", "rtag")
    val got = graft.plans.AsOfJoin.asof(l, r, Seq(l("k")), Seq(r("rk")), l("t"), r("rt"))
      .select(col("tag"), col("rtag")).collect().map(x => (x.getString(0), x.getString(1))).toSet
    // a(k=1,t=10) -> y(rt=9); b(k=1,t=5) -> none; c(k=2,t=7) -> none (rt=8 later); d -> none
    assert(got === Set(("a", "y")))
  }

  test("nearest attribution: brute-force replay; both directions and unattributed occur (q249)") {
    val got = EventOps.nearestAttribution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getLong(4)))
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicks = ev.filter(_._3 == "click")
      .groupBy(e => (e._2, e._4)).map { case ((u, t), xs) => (u, t, xs.map(_._1).min) }.toSeq
    val byUser = clicks.groupBy(_._1)
    val expected = ev.filter(_._3 == "purchase").map { case (pid, u, _, pt) =>
      val cands = byUser.getOrElse(u, Seq.empty)
        .map(c => (math.abs(pt - c._2), c._2, c._3))
        .filter(_._1 <= EventOps.NearestWindowSec)
      if (cands.isEmpty) (pid, -1L, "none", -1L)
      else {
        val (gap, t, cid) = cands.minBy(c => (c._1, c._2, c._3))
        (pid, cid, if (t <= pt) "back" else "fwd", gap)
      }
    }.toSet
    assert(got.toSet === expected)
    assert(got.exists(_._3 == "back") && got.exists(_._3 == "fwd") && got.exists(_._3 == "none"),
      "the dataset must exercise all three outcomes")
  }

  test("interval join sweep: OVERLAPPING intervals, boundary conventions, equals brute force") {
    import TestSpark.spark.implicits._
    // overlapping + nested + abutting intervals, duplicate point times,
    // points before/after/between all intervals, a null point time
    val pts = Seq((1L, "p1"), (5L, "p5"), (5L, "p5b"), (7L, "p7"), (10L, "p10"),
      (12L, "p12"), (15L, "p15"), (20L, "p20")).toDF("t", "ptag")
      .unionByName(Seq((Option.empty[Long], "pnull")).toDF("t", "ptag"))
    val ivs = Seq((4L, 8L, "A"), (5L, 12L, "B"), (6L, 7L, "C"), (8L, 10L, "D"),
      (12L, 15L, "E")).toDF("s", "e", "itag")
    val got = graft.plans.IntervalJoin.pointInInterval(pts, ivs, pts("t"), ivs("s"), ivs("e"))
      .select(col("ptag"), col("itag")).collect()
      .map(x => (x.getString(0), x.getString(1))).sorted.toSeq
    val brute = pts.join(ivs, pts("t") >= ivs("s") && pts("t") < ivs("e"))
      .select(col("ptag"), col("itag")).collect()
      .map(x => (x.getString(0), x.getString(1))).sorted.toSeq
    assert(got === brute)
    // spot-check the conventions: start inclusive (p5 in A and B), end
    // exclusive (p7 not in C; p12 not in B but in E), overlap multiplicity
    assert(got.count(_._1 == "p5") === 2 && got.count(_._1 == "p5b") === 2)
    assert(!got.contains(("p7", "C")) && got.contains(("p7", "A")) && got.contains(("p7", "B")))
    assert(got.filter(_._1 == "p12") === Seq(("p12", "E")))
    assert(!got.exists(x => x._1 == "p1" || x._1 == "p20" || x._1 == "pnull"))
  }

  test("KEYED interval join: all four join types equal brute force (groups, gaps, empty sides)") {
    import TestSpark.spark.implicits._
    // key groups exercising every merge-path branch: k=1 overlapping
    // intervals, k=2 point-only (no intervals at all), k=3 interval-only
    // (no points), k=4 dense abutting, k=5 single point in a gap between
    // its key's intervals (its E2 never matches), plus a null point time
    // (outer-emits) and a never-matched interval BEFORE a matched one (E1
    // vs the gap point at t=10 — exercises the admit-then-retire flush)
    val pts = Seq((1L, 5L, "a1"), (1L, 7L, "a2"), (2L, 5L, "b1"), (4L, 3L, "d1"),
      (4L, 6L, "d2"), (4L, 9L, "d3"), (5L, 10L, "e1"), (1L, 99L, "a3")).toDF("k", "t", "ptag")
      .unionByName(Seq((5L, Option.empty[Long], "enull")).toDF("k", "t", "ptag"))
    val ivs = Seq((1L, 4L, 8L, "A"), (1L, 5L, 12L, "B"), (3L, 0L, 100L, "C"),
      (4L, 3L, 6L, "D1"), (4L, 6L, 9L, "D2"), (5L, 0L, 5L, "E1"), (5L, 20L, 30L, "E2"))
      .toDF("ik", "s", "e", "itag")
    def run(jt: String) = graft.plans.IntervalJoin.join(
        pts, ivs, Seq(pts("k")), Seq(ivs("ik")), pts("t"), ivs("s"), ivs("e"), jt)
      .select(col("ptag"), col("itag")).collect()
      .map(x => (Option(x.getString(0)).getOrElse("-"),
        Option(x.getString(1)).getOrElse("-"))).sorted.toSeq
    def brute(sqlType: String) = pts.join(ivs,
        pts("k") === ivs("ik") && pts("t") >= ivs("s") && pts("t") < ivs("e"), sqlType)
      .select(col("ptag"), col("itag")).collect()
      .map(x => (Option(x.getString(0)).getOrElse("-"),
        Option(x.getString(1)).getOrElse("-"))).sorted.toSeq
    for ((jt, sqlType) <- Seq("inner" -> "inner", "left" -> "left_outer",
        "right" -> "right_outer", "full" -> "full_outer")) {
      assert(run(jt) === brute(sqlType), s"joinType=$jt")
    }
    val bruteOuter = brute("left_outer"); val bruteFull = brute("full_outer")
    // the dataset genuinely exercises both outer shapes: unmatched-by-key
    // (b1: no intervals for k=2) and unmatched-in-gap (e1: between E1 and E2)
    assert(bruteOuter.contains(("b1", "-")) && bruteOuter.contains(("e1", "-")) &&
      bruteOuter.contains(("enull", "-")))
    // ...and both right-unmatched shapes: interval-only key (C, k=3) and
    // in-group never-matched intervals (E1 retired before e1's t, E2 after)
    assert(bruteFull.contains(("-", "C")) && bruteFull.contains(("-", "E1")) &&
      bruteFull.contains(("-", "E2")))
    // overlap multiplicity inside a key group (a1 in A and B)
    assert(brute("inner").count(_._1 == "a1") === 2)
  }

  test("out-of-order streaming sessionization (flatMapGroupsWithState buffer) equals batch") {
    val late = graft.streaming.LateSessionStream.sessionsLateStreaming(spark, sf)
    val batch = EventOps.sessionCounts(spark, sf)
    assert(late.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(late).count() === 0)
  }

  test("event-time-timeout sessionization equals batch on the testdata") {
    val result = graft.streaming.TimeoutSessionStream.sessionsTimeoutStreaming(spark, sf)
    val batch = EventOps.sessionCounts(spark, sf)
    assert(result.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(result).count() === 0)
  }

  test("event-time timeout fires for an idle key and a later event opens a new incarnation") {
    import TestSpark.spark.implicits._
    import graft.streaming.TimeoutSessionStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base = 1700000000L - (1700000000L % 3600) // minute-aligned epoch
    def min(k: Long): Long = base + k * 60L
    val mem = MemoryStream[(Long, Long, Long)] // (user_id, event_id, epoch sec)
    val name = "graft_timeout_unit"
    val evs = mem.toDF()
      .select(col("_1").as("user_id"), col("_2").as("event_id"),
        timestamp_seconds(col("_3")).as("ts"))
      .withWatermark("ts", "1 second")
      .select(col("user_id"),
        unix_timestamp(date_trunc("minute", col("ts"))).as("minute"),
        col("event_id"), col("ts"))
      .as[TimeoutSessionStream.TEv]
    val q = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.EventTimeTimeout())(TimeoutSessionStream.updateWithTimeout)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName(name).start()
    // b1: A@0,10m B@0m; b2: B@120m (watermark -> ~119m59s, past A's 41m timeout)
    // b3: B@125m -> batch runs, A has no data, A's TIMEOUT fires (state removed)
    // b4: A@180m -> fresh incarnation for A
    mem.addData((1L, 1L, min(0)), (1L, 2L, min(10)), (2L, 3L, min(0)))
    q.processAllAvailable()
    mem.addData((2L, 4L, min(120)))
    q.processAllAvailable()
    mem.addData((2L, 5L, min(125)))
    q.processAllAvailable()
    mem.addData((1L, 6L, min(180)))
    q.processAllAvailable()
    q.stop()

    val emits = spark.table(name)
    val incsA = emits.filter(col("user_id") === 1L)
      .select(col("inc_minute")).distinct().count()
    assert(incsA === 2L, "timeout did not split user 1 into two incarnations")
    val finals = emits
      .groupBy(col("user_id"), col("inc_minute"))
      .agg(max(col("n_sessions")).as("s"), max(col("n_events")).as("e"))
      .groupBy(col("user_id"))
      .agg(sum(col("s")).as("n_sessions"), sum(col("e")).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // A: {0,10} one session + {180} one session = 2 sessions / 3 events
    // B: {0} + {120,125} = 2 sessions / 3 events
    assert(finals === Set((1L, 2L, 3L), (2L, 2L, 3L)))
  }

  test("grouping sets equals the two single-column aggregates (shared-scan form)") {
    val gs = CoreOps.groupingSetsCounts(spark, sf).collect()
    val o = Tables.orders(spark, sf)
    val byStatus = o.groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val byPrio = o.groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotStatus = gs.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r.getLong(2)).toMap
    val gotPrio = gs.filter(!_.isNullAt(1)).map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(gotStatus === byStatus)
    assert(gotPrio === byPrio)
    assert(gs.length === byStatus.size + byPrio.size)
  }

  test("correlated subqueries: per-segment counts are consistent") {
    val r = CoreOps.correlatedSubqueries(spark, sf).collect()
    val nCust = Tables.customer(spark, sf).count()
    assert(r.map(_.getLong(1)).sum === nCust)
    r.foreach { row =>
      assert(row.getLong(2) <= row.getLong(1)) // EXISTS subset
      assert(row.getLong(3) <= row.getLong(1)) // NOT EXISTS subset
      assert(row.getLong(4) >= 0L)
    }
  }

  test("as-of outer join keeps unmatched left rows with nulls") {
    import TestSpark.spark.implicits._
    val l = Seq((1L, 10L, "a"), (1L, 5L, "b"), (3L, 1L, "d")).toDF("k", "t", "tag")
    val r = Seq((1L, 9L, "y"), (4L, 1L, "w")).toDF("rk", "rt", "rtag")
    val got = graft.plans.AsOfJoin.asof(l, r, Seq(l("k")), Seq(r("rk")), l("t"), r("rt"),
        outer = true)
      .select(col("tag"), col("rtag")).collect()
      .map(x => (x.getString(0), Option(x.get(1)))).toSet
    assert(got === Set(("a", Some("y")), ("b", None), ("d", None)))
  }

  test("as-of join: NULL times never match (SQL semantics), and the time mirror stays safe") {
    import TestSpark.spark.implicits._
    // NULL rightTime sorts FIRST under the natural nulls-first ordering —
    // without the exec-side skip it would be held as "latest ≤ leftTime"
    val l = Seq((1L, Option(10L), "a"), (1L, None: Option[Long], "b"),
        (2L, Option(5L), "c")).toDF("k", "t", "tag")
    val r = Seq((1L, None: Option[Long], "n"), (1L, Option(6L), "y"),
        (2L, None: Option[Long], "z")).toDF("rk", "rt", "rtag")
    def run(outer: Boolean) = graft.plans.AsOfJoin
      .asof(l, r, Seq(l("k")), Seq(r("rk")), l("t"), r("rt"), outer = outer)
      .select(col("tag"), col("rtag")).collect()
      .map(x => (x.getString(0), Option(x.get(1)))).toSet
    // a(k=1,t=10) -> y (NOT the null-time n); b(t=NULL) -> none; c -> only
    // a null-time candidate exists -> none
    assert(run(outer = false) === Set(("a", Some("y"))))
    assert(run(outer = true) ===
      Set(("a", Some("y")), ("b", None), ("c", None)))
    // the time-upper-bound mirror (rightTime <= U pushed by
    // AsOfJoinFilterPushdown) drops the NULL-time right rows — provably
    // result-preserving now that the exec never holds them
    val filtered = graft.plans.AsOfJoin
      .asof(l, r, Seq(l("k")), Seq(r("rk")), l("t"), r("rt"), outer = true)
      .filter(col("t") <= lit(10L))
      .select(col("tag"), col("rtag")).collect()
      .map(x => (x.getString(0), Option(x.get(1)))).toSet
    assert(filtered === Set(("a", Some("y")), ("c", None)))
  }

  test("ngram generator emits order-preserving shingles; short docs emit none") {
    import TestSpark.spark.implicits._
    val df = Seq("a b c", "x", "p q").toDF("text")
    val got = df.select(graft.functions.VectorFunctions.ngrams(split(col("text"), " "), 2)
        .as("g")).collect().map(_.getString(0)).toSeq.sorted
    assert(got === Seq("a b", "b c", "p q"))
  }

  test("simhash of near-identical word sets has small hamming distance") {
    val sh = DedupOps.simhash(spark, sf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dupPair = DedupOps.nearDupJaccard(spark, sf, 0.99).collect().headOption
    dupPair.foreach { r =>
      val d = java.lang.Long.bitCount(sh(r.getLong(0)) ^ sh(r.getLong(1)))
      assert(d <= 4, s"hamming $d too large for J>=0.99 pair")
    }
  }
}

/** Data-quality / profiling operators added in round 2 (q115-q119). */
class ProfilingSpec extends AnyFunSuite {
  import TestSpark._

  test("repetition ratio matches an in-JVM trigram count per document") {
    val got = TextOps.repetitionRatio(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(25).collect()
    docs.foreach { r =>
      val ws = r.getString(1).split(" ", -1)
      val tris = ws.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      val (nTri, nUniq) = got(r.getLong(0))
      assert(nTri === tris.size.toLong)
      assert(nUniq === tris.distinct.size.toLong)
    }
  }

  test("repetition dup_ratio is a valid fraction and 0 for short docs") {
    val bad = TextOps.repetitionRatio(spark, sf)
      .filter(col("dup_ratio") < 0.0 || col("dup_ratio") > 1.0 ||
        col("n_uniq") > col("n_tri")).count()
    assert(bad === 0L)
  }

  test("redaction masks every URL / email / 3+-digit run it counted") {
    val rows = TextOps.redactPii(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L, "email count")   // the derived contact line
      assert(r.getLong(2) >= 1L, "url count")
      assert(r.getLong(3) >= 1L, "digit-run count")
      val tail = r.getString(5)
      assert(!"[0-9]{3,}".r.findFirstIn(tail).isDefined, s"unredacted digits: $tail")
      assert(tail.contains("<"), s"no placeholder in tail: $tail")
    }
  }

  test("column profile: distinct <= non-null, and native-type min/max order") {
    val p = CoreOps.columnProfile(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p.size === 5)
    p.values.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"${r.getString(0)}: distinct > non-null")
    }
    // numeric min/max compare numerically, not lexicographically
    val ok = p("o_orderkey")
    assert(BigDecimal(ok.getString(3)) <= BigDecimal(ok.getString(4)))
    assert(p("o_orderstatus").getLong(2) <= 5L)
  }

  test("big spenders: HAVING bound holds and output is price-descending") {
    val rows = CoreOps.bigSpenderOrders(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    assert(rows.forall(_.getDouble(3) > 180.0))
    val prices = rows.map(_.getDouble(2)).toSeq
    assert(prices === prices.sortBy(-_))
  }

  test("forward fill carries the latest click value and -1 before any click") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3), r.getDouble(4)))
    val got = EventOps.forwardFill(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ev.groupBy(_._1).foreach { case (_, rows) =>
      var lastClick = -1.0
      rows.sortBy(r => (r._3.getTime, r._3.getNanos, r._2)).foreach { r =>
        if (r._4 == "click") lastClick = r._5
        assert(got((r._1, r._2)) === lastClick, s"user ${r._1} event ${r._2}")
      }
    }
  }

  test("gap-fill densifies to the full day x user grid and preserves totals") {
    val g = EventOps.gapfillDaily(spark, sf)
    val nDays = g.select(col("day")).distinct().count()
    val nUsers = g.select(col("user_id")).distinct().count()
    assert(g.count() === nDays * nUsers)
    assert(g.filter(col("n_purchases") === 0L && col("revenue") =!= 0.0).count() === 0L)
    val filled = g.agg(sum(col("n_purchases"))).head.getLong(0)
    val raw = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase" && col("user_id") < 5).count()
    assert(filled === raw)
  }

  test("cohort retention: offset-0 covers every user and offsets only shrink") {
    val rows = EventOps.cohortRetention(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    val allUsers = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    val atZero = rows.filter(_._2 == 0L).map(_._3).sum
    assert(atZero === allUsers, "every user is active in their cohort week")
    rows.groupBy(_._1).foreach { case (_, cohort) =>
      val m = cohort.map(r => r._2 -> r._3).toMap
      m.keys.filter(_ > 0).foreach(k => assert(m(k) <= m(0L), s"offset $k grew"))
    }
  }

  test("merged daily partials equal the direct monthly aggregate (q123)") {
    val merged = EventOps.aggMergeRollup(spark, sf).collect()
    val direct = Tables.events(spark, sf)
      .groupBy(date_trunc("month", col("ts")).as("month"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .orderBy(col("month"), col("event_type")).collect()
    assert(merged.map(_.toSeq).toSeq === direct.map(_.toSeq).toSeq)
  }

  test("sliding HLL window estimate tracks the exact trailing distinct (q133)") {
    // 5% envelope computed in-query (est_ok) and oracle-asserted; must hold
    // at the spec SF too
    val rows = EventOps.hllSliding(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 7L)
      assert(r.getBoolean(3), s"${r.get(0)}: estimate outside 5% envelope")
    }
  }

  test("HLL sketch-merge estimate stays within 5% of the exact count (q124)") {
    EventOps.hllRollup(spark, sf).collect().foreach { r =>
      assert(r.getLong(2) > 0L)
      assert(r.getBoolean(3), s"${r.getString(1)}: estimate outside 5% envelope")
    }
  }

  test("audio chunks cover every byte with clipped overlapping windows (q125)") {
    val byDoc = MultimodalOps.audioChunks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val sizes = Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sizes.foreach { case (id, n) =>
      val chunks = byDoc(id).sortBy(_._2)
      assert(chunks.length === ((math.max(n - 200, 0) + 79) / 80 + 1).toInt)
      chunks.foreach { case (_, k, start, len) =>
        assert(start === k * 80 && len === math.min(200L, n - start) && len >= 1)
      }
      assert(chunks.last._3 + chunks.last._4 === n, "tail byte covered")
    }
  }

  test("cohort ltv curve is monotone and totals reconcile with raw spend (q236)") {
    val rows = EventOps.cohortLtv(spark, sf).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    rows.groupBy(_._1).foreach { case (_, curve) =>
      val sorted = curve.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._5 >= a._5 - 1e-9, "cum_spend monotone")
        case _ => ()
      }
      assert(math.abs(sorted.map(_._4).sum - sorted.last._5) < 1e-6, "cum = sum of periods")
    }
    val total = Tables.events(spark, sf)
      .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))))
      .head.getDecimal(0).doubleValue()
    assert(math.abs(rows.groupBy(_._1).values.map(_.maxBy(_._2)._5).sum - total) < 1e-4)
  }

  test("rfm segments partition customers; codes are valid quintiles (q235)") {
    val rows = CoreOps.rfmSegments(spark, sf).collect()
    val nCust = Tables.orders(spark, sf).select(col("o_custkey")).distinct().count()
    assert(rows.map(_.getLong(1)).sum === nCust)
    rows.foreach { r =>
      val code = r.getString(0)
      assert(code.length === 3 && code.forall(c => c >= '1' && c <= '5'), code)
      assert(r.getDouble(2) > 0.0)
    }
    // top RFM cell must out-spend per customer vs the bottom cell when both exist
    val byCode = rows.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    for (t <- byCode.get("555"); b <- byCode.get("111")) {
      assert(t._2 / t._1 > b._2 / b._1)
    }
  }

  test("mann-whitney U matches an in-JVM tie-averaged rank sum (q234)") {
    val r = CoreOps.mannWhitney(spark, sf).head
    val (n1, n2, u1, cles) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    val vals = Tables.orders(spark, sf)
      .select(col("o_totalprice"),
        (col("o_orderdate") < lit(CoreOps.DecileDriftSplitDate).cast("timestamp")).as("early"))
      .collect().map(x => (x.getDouble(0), x.getBoolean(1)))
    val sorted = vals.sortBy(_._1)
    // tie-averaged ranks
    val ranks = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Double)]
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      val avg = (i + 1 + j).toDouble / 2.0
      (i until j).foreach(k => ranks += ((sorted(k)._2, avg)))
      i = j
    }
    val r1 = ranks.filter(_._1).map(_._2).sum
    val u1Expect = r1 - n1.toDouble * (n1 + 1) / 2.0
    assert(math.abs(u1 - u1Expect) < 1e-6)
    assert(math.abs(cles - u1Expect / (n1.toDouble * n2)) < 1e-5)
    assert(cles >= 0.0 && cles <= 1.0)
  }

  test("KS statistic matches an in-JVM ECDF sweep (q233)") {
    val r = CoreOps.ksTest(spark, sf).head
    val (n1, n2, d) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val vals = Tables.orders(spark, sf)
      .select(col("o_totalprice"),
        (col("o_orderdate") < lit(CoreOps.DecileDriftSplitDate).cast("timestamp")).as("early"))
      .collect()
      .map(x => (x.getDouble(0), x.getBoolean(1)))
    val (a, b) = (vals.filter(_._2).map(_._1).sorted, vals.filterNot(_._2).map(_._1).sorted)
    assert(n1 === a.length.toLong && n2 === b.length.toLong)
    val points = (a ++ b).distinct.sorted
    val dExpect = points.map { v =>
      math.abs(a.count(_ <= v).toDouble / a.length - b.count(_ <= v).toDouble / b.length)
    }.max
    assert(math.abs(d - dExpect) < 1e-5)
    assert(d >= 0.0 && d <= 1.0)
  }

  test("survival table: at-risk telescopes and KM curve is monotone (q232)") {
    val rows = EventOps.survivalTable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // at_risk(t_{i+1}) = at_risk(t_i) - events - censored
    rows.sliding(2).foreach {
      case Array((_, ar1, d1, c1), (_, ar2, _, _)) => assert(ar2 === ar1 - d1 - c1)
      case _ => ()
    }
    // KM composed in-JVM from the exact rows is a valid survival curve
    var s = 1.0
    rows.foreach { case (_, ar, d, _) =>
      s *= (1.0 - d.toDouble / ar)
      assert(s >= -1e-12 && s <= 1.0 + 1e-12)
    }
    // both events and censoring must occur in this data
    assert(rows.map(_._3).sum > 0 && rows.map(_._4).sum > 0)
  }

  test("vocab segments partition mass with head<torso<tail term counts (q231)") {
    val rows = TextOps.vocabSegments(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet === Set("1_head", "2_torso", "3_tail"))
    val totalTerms = rows.values.map(_._1).sum
    val totalMass = rows.values.map(_._2).sum
    // by construction: head crosses the 50% mass boundary, head+torso the 90%
    assert(rows("1_head")._2 * 2 >= totalMass)
    assert((rows("1_head")._2 + rows("2_torso")._2) * 10 >= totalMass * 9)
    // the head contains the most frequent term
    assert(rows("1_head")._4 >= rows("2_torso")._4 && rows("1_head")._4 >= rows("3_tail")._4)
    assert(totalTerms > 0L && totalMass > 0L)
  }

  test("source overlap jaccard is bounded and shared counts symmetric (q230)") {
    val rows = TextOps.sourceOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (shared, ga, gb, j) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(shared >= 1L && shared <= math.min(ga, gb))
      assert(j > 0.0 && j <= 1.0)
      assert(r.getString(0) < r.getString(1))
    }
  }

  test("share-of-parent sums to 1 within every parent (q229)") {
    val rows = CoreOps.shareOfParent(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3), r.getDouble(4)))
    rows.groupBy(r => (r._1, r._3)).foreach { case ((_, parent), group) =>
      assert(math.abs(group.map(_._5).sum - 1.0) < 1e-3, s"parent $parent")
    }
    // region revenue equals the sum of its nations' revenues
    val nations = rows.filter(_._1 == "nation").groupBy(_._3)
    val regions = rows.filter(_._1 == "region").map(r => r._2 -> r._4).toMap
    nations.foreach { case (region, ns) =>
      assert(math.abs(ns.map(_._4).sum - regions(region)) < 1e-2, region)
    }
  }

  test("sequence pairs match an in-JVM windowed count for one user (q228)") {
    val got = EventOps.sequencePatterns(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // strict superset of adjacent transitions: support(a,b) >= markov n(a,b)
    // only when the adjacent gap is <= 10 min; verify full recount in-JVM
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expect = scala.collection.mutable.Map.empty[(String, String), Long]
    evs.groupBy(_._1).values.foreach { rows =>
      for {
        a <- rows; b <- rows
        if (b._3 > a._3 || (b._3 == a._3 && b._4 > a._4)) && b._3 <= a._3 + 600000000L
      } expect((a._2, b._2)) = expect.getOrElse((a._2, b._2), 0L) + 1L
    }
    assert(got === expect.toMap)
  }

  test("label affinity is a full symmetric-free matrix with bounded sims (q227)") {
    val rows = SimilarityOps.labelAffinity(spark, sf).collect()
    val labels = Tables.embeddings(spark, sf).select(col("label")).distinct().count()
    assert(rows.length.toLong === labels * (labels - 1) / 2)
    rows.foreach { r =>
      assert(r.getInt(0) < r.getInt(1))
      assert(r.getDouble(2) >= -1.0 - 1e-9 && r.getDouble(2) <= 1.0 + 1e-9)
    }
  }

  test("benford audit: probabilities sum to 1, digits partition orders (q226)") {
    val rows = CoreOps.benfordAudit(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to 9L))
    val n = Tables.orders(spark, sf).filter(col("o_totalprice") > 0.0).count()
    assert(rows.map(_.getLong(1)).sum === n)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-3)
    rows.foreach(r => assert(r.getDouble(4) >= 0.0))
  }

  test("cuped: theta matches regression slope; adjustment preserves totals (q225)") {
    val rows = EventOps.cupedAdjust(spark, sf).collect()
    assert(rows.length === 2)
    val theta = rows.head.getDouble(4)
    assert(rows.forall(r => math.abs(r.getDouble(4) - theta) < 1e-9), "theta is global")
    val r2 = rows.head.getDouble(5)
    assert(r2 >= 0.0 && r2 <= 100.0)
    // weighted mean of cuped means equals weighted mean of raw means:
    // the adjustment is mean-preserving over the pooled population
    val nTot = rows.map(_.getLong(1)).sum.toDouble
    val rawPool = rows.map(r => r.getDouble(2) * r.getLong(1)).sum / nTot
    val cupedPool = rows.map(r => r.getDouble(3) * r.getLong(1)).sum / nTot
    assert(math.abs(rawPool - cupedPool) < 1e-3)
  }

  test("bloom filter: no false negatives, FP rate within 3x theory (q224)") {
    val r = CoreOps.bloomMembership(spark, sf).head
    val (nKeys, nBits, nProbes, nFp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nBits <= nKeys * CoreOps.BloomHashes)
    assert(nProbes > 0)
    // zero false negatives BY CONSTRUCTION: every key's positions are in
    // the filter — verify on a sample of true members
    val keys = Tables.orders(spark, sf).select(col("o_custkey")).distinct()
    val bits = keys.select(explode(expr(
        s"""transform(sequence(0, ${CoreOps.BloomHashes - 1}), j ->
           |  CAST(conv(substring(md5(concat(CAST(o_custkey AS STRING), ':', CAST(j AS STRING))), 1, 12), 16, 10) AS BIGINT) % ${CoreOps.BloomBits}""".stripMargin + ")"))
        .as("pos")).distinct()
      .collect().map(_.getLong(0)).toSet
    keys.limit(20).collect().map(_.getLong(0)).foreach { k =>
      (0 until CoreOps.BloomHashes).foreach { j =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$k:$j".getBytes).take(6)
          .foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL)) % CoreOps.BloomBits
        assert(bits.contains(h), s"member $k pos $j missing")
      }
    }
    // FP rate vs theory
    val theory = math.pow(1.0 - math.exp(-CoreOps.BloomHashes.toDouble * nKeys / CoreOps.BloomBits),
      CoreOps.BloomHashes)
    assert(nFp.toDouble / nProbes <= theory * 3 + 0.001)
  }

  test("decile drift cells cover all orders; PSI computable from cells (q223)") {
    val rows = CoreOps.decileDrift(spark, sf).collect()
    val n = Tables.orders(spark, sf).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum === n)
    assert(rows.map(_.getLong(0)).toSeq === (0L to 9L))
    // exact-decile buckets hold ~10% of the corpus each
    rows.foreach { r =>
      val share = (r.getLong(1) + r.getLong(2)).toDouble / n
      assert(share > 0.05 && share < 0.15, s"bucket ${r.getLong(0)}: $share")
    }
    // PSI from the exact cells (the ln stays OUT of the query on purpose)
    val psi = rows.filter(r => r.getLong(1) > 0 && r.getLong(2) > 0).map { r =>
      val (pe, pl) = (r.getDouble(3), r.getDouble(4))
      (pl - pe) * math.log(pl / pe)
    }.sum
    assert(psi >= 0.0 && !psi.isNaN)
  }

  test("interleave pacing error stays within the stride bound (q222)") {
    val rows = TextOps.interleaveAudit(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum === TextOps.InterleaveAuditSlots.toLong)
    rows.foreach { r =>
      // stride scheduling guarantees each source is within ~1 emission of
      // its proportional share at every prefix
      assert(math.abs(r.getDouble(3)) <= 2.0, s"${r.getString(0)}: ${r.getDouble(3)}")
    }
  }

  test("scd2 as-of picks exactly one interval per key and is consistent (q221)") {
    val rows = CoreOps.scd2AsOf(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).distinct.length === rows.length, "one row per key")
    rows.foreach(r => assert(r.getBoolean(4), s"key ${r.getLong(0)} inconsistent"))
    // keys as-of D = keys with any order on or before D
    val expected = Tables.orders(spark, sf)
      .filter(col("o_orderdate") <= lit(CoreOps.Scd2AsOfDate).cast("timestamp"))
      .select(col("o_custkey")).distinct().count()
    assert(rows.length.toLong === expected)
  }

  test("varint estimate matches an in-JVM delta encode per term (q220)") {
    val got = TextOps.indexCompression(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    val postings = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
      .distinct().collect().map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1)
    def vb(g: Long): Long =
      if (g < 128) 1 else if (g < 16384) 2 else if (g < 2097152) 3
      else if (g < 268435456) 4 else 5
    got.foreach { case (term, (df, vbytes)) =>
      val ids = postings(term).map(_._2).sorted
      assert(df === ids.length.toLong)
      val gaps = (0L +: ids.init.toSeq).zip(ids).map { case (p, c) => c - p }
      assert(vbytes === gaps.map(vb).sum, term)
      assert(vbytes >= df && vbytes <= df * 8)
    }
  }

  test("autocorrelation matches an in-JVM lagged pearson per lag (q219)") {
    val got = EventOps.volumeAutocorr(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val daily = Tables.events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).as("day")).agg(count(lit(1)).as("v"))
      .collect().map(r => r.getTimestamp(0).getTime / 86400000L -> r.getLong(1)).toMap
    (1L to 7L).foreach { lag =>
      val pairs = daily.toSeq.flatMap { case (d, x) =>
        daily.get(d - lag).map(y => (x.toDouble, y.toDouble))
      }
      val n = pairs.length.toDouble
      val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val r = (n * sxy - sx * sy) /
        math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      val (gn, gr) = got(lag)
      assert(gn === pairs.length.toLong, s"lag $lag n")
      assert(math.abs(gr - r) < 1e-5, s"lag $lag r")
      assert(gr >= -1.0 - 1e-9 && gr <= 1.0 + 1e-9)
    }
  }

  test("pareto frontier equals the N-squared dominance filter in-JVM (q218)") {
    val sky = TextOps.paretoDocs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // recompute all (q4, len) points and brute-force dominance
    val all = {
      import org.apache.spark.sql.functions._
      val ws = split(col("text"), " ")
      val nTok = size(ws).cast("double")
      Tables.documents(spark, sf)
        .select(col("doc_id"), size(ws).cast("long").as("len"),
          floor(graft.ops.OracleMath.stableRound(
            least(nTok / 100.0, lit(1.0)) * 0.4 +
              (size(filter(ws, w => w.isInCollection(Seq("the", "a", "of", "and", "to", "in", "is"))))
                .cast("double") / nTok) * 0.3 +
              least((aggregate(transform(ws, w => length(w).cast("long")), lit(0L), _ + _)
                .cast("double") / nTok) / 8.0, lit(1.0)) * 0.3, 4) * 10000.0 + lit(0.5))
            .cast("long").as("q4"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    val expect = all.filter { case (id, len, q4) =>
      !all.exists { case (id2, len2, q42) =>
        id2 != id && ((q42 > q4 && len2 <= len) || (q42 == q4 && len2 < len))
      }
    }.map(_._1).toSet
    assert(sky.map(_._1).toSet === expect)
  }

  test("srm guard: arms partition users and the flag fires on imbalance (q216)") {
    EventOps.srmCheck(spark, sf).collect().foreach { r =>
      assert(r.getLong(2) + r.getLong(3) === r.getLong(1))
      assert(r.getDouble(4) >= 0.0)
    }
    // mechanism check on a forced 90/10 imbalance: chi2 = n*0.64 >> 3.84
    val (na, nb, n) = (90L, 10L, 100L)
    val e = n / 2.0
    val chi2 = (na - e) * (na - e) / e + (nb - e) * (nb - e) / e
    assert(chi2 > 3.84)
  }

  test("mutual-NN pairs are symmetric best matches in-JVM (q215)") {
    val pairs = SimilarityOps.mutualNearestNeighbors(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty)
    // recompute top-1 per vector in-JVM over the same subset
    val vecs = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % SimilarityOps.MnnSubsetMod === 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val top1 = vecs.map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .map { case (j, u) => (j, cos(v, u)) }
        .maxBy { case (j, s) => (s, -j) }._1
    }.toMap
    val expect = top1.collect {
      case (a, b) if top1(b) == a && a < b => (a, b)
    }.toSet
    assert(pairs === expect)
  }

  test("rendezvous rebalance moves docs only to the new node (q214)") {
    val rows = CoreOps.rendezvousRebalance(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.values.map(_._1).sum === nDocs && rows.values.map(_._2).sum === nDocs)
    // the minimal-disruption invariant: only the NEW node gains
    rows.foreach { case (node, (_, _, gained, lost)) =>
      if (node < CoreOps.RendezvousOldNodes) assert(gained === 0L, s"node $node gained")
      else assert(lost === 0L, "new node cannot lose")
    }
    val moved = rows(CoreOps.RendezvousOldNodes.toLong)._3
    assert(moved === rows.values.map(_._4).sum)
    // expected ~1/9 of the corpus moves
    assert(moved > 0L && moved < nDocs / 4)
  }

  test("canonical pick keeps the quality argmax of each dup group (q213)") {
    val rows = TextOps.canonicalPick(spark, sf).collect()
    assert(rows.nonEmpty)
    // group count and representative membership agree with q36's groups
    val q36 = DedupOps.dedupWordSet(spark, sf).collect()
      .filter(_.getLong(1) > 1L)
    assert(rows.length === q36.length)
    rows.foreach { r =>
      assert(r.getLong(1) > 1L)
      assert(r.getLong(4) >= 0L)
    }
  }

  test("triangle corners sum to 3x the global count; clustering in [0,1] (q212)") {
    val rows = EventOps.triangleStats(spark, sf).collect()
    val global = rows.find(_.getLong(0) === -1L).get.getLong(2)
    val perNode = rows.filter(_.getLong(0) >= 0L)
    assert(perNode.map(_.getLong(2)).sum === 3L * global)
    perNode.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      // T_v is bounded by the wedges at v
      val d = r.getLong(1)
      assert(r.getLong(2) <= d * (d - 1) / 2)
    }
  }

  test("feature scaling stats agree with built-in avg/stddev_pop (q211)") {
    val got = SimilarityOps.featureScaling(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val ref = Tables.embeddings(spark, sf)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(avg(col("x").cast("double")).as("m"), expr("stddev_pop(CAST(x AS DOUBLE))").as("s"))
      .collect()
    assert(got.size === 64)
    ref.foreach { r =>
      val (_, m, s) = got(r.getInt(0).toLong)
      // micro-unit quantization bounds the drift at 1e-6 scale
      assert(math.abs(m - r.getDouble(1)) < 1e-5, s"dim ${r.getInt(0)} mean")
      assert(math.abs(s - r.getDouble(2)) < 1e-4, s"dim ${r.getInt(0)} std")
    }
  }

  test("mix allocation fills the budget greedily by quality rank (q210)") {
    val rows = TextOps.mixAllocation(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getDouble(4), r.getLong(5)))
      .sortBy(_._1)
    val totalAvail = rows.map(_._2).sum
    val budget = totalAvail / 2
    assert(rows.map(_._4).sum === budget, "greedy fill exactly exhausts the budget")
    // quality ranking is descending; allocation is a prefix: full, then one
    // partial, then zeros
    assert(rows.map(_._3).toSeq === rows.map(_._3).toSeq.sorted.reverse)
    val kinds = rows.map { case (_, avail, _, alloc) =>
      if (alloc == avail) "full" else if (alloc == 0L) "zero" else "partial"
    }
    val collapsed = kinds.foldLeft(List.empty[String]) {
      case (acc, k) if acc.headOption.contains(k) => acc
      case (acc, k) => k :: acc
    }.reverse
    assert(Seq(Seq("full", "partial", "zero"), Seq("full", "partial"), Seq("full", "zero"),
      Seq("full"), Seq("partial", "zero"), Seq("partial")).contains(collapsed))
  }

  test("wilson interval brackets the rate and narrows with n (q209)") {
    val rows = CoreOps.wilsonRates(spark, sf).collect()
    rows.foreach { r =>
      val (n, k, rate, lo, hi) = (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
      assert(k <= n)
      assert(lo <= rate && rate <= hi, r.getString(0))
      assert(lo >= 0.0 && hi <= 1.0, "wilson bounds stay inside [0,1] — wald's would not")
      // in-JVM wilson recompute
      val p = k.toDouble / n
      val denom = 1.0 + 3.8416 / n
      val center = (p + 1.9208 / n) / denom
      val half = 1.96 * math.sqrt(p * (1.0 - p) / n + 0.9604 / (n.toDouble * n)) / denom
      assert(math.abs(lo - (center - half)) < 1e-5 && math.abs(hi - (center + half)) < 1e-5)
    }
  }

  test("markov accuracy beats the majority-class floor per state (q208)") {
    val rows = EventOps.markovAccuracy(spark, sf).collect()
    val trans = EventOps.markovTransitions(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    rows.filter(_.getString(0) != "_overall").foreach { r =>
      val (prev, pred) = (r.getString(0), r.getString(1))
      val counts = trans.filter(_._1 == prev)
      // the prediction is the true argmax (ties by name) and its count matches
      val best = counts.maxBy(c => (c._3, -1))._3
      assert(counts.filter(_._3 == best).map(_._2).min === pred || counts.find(_._2 == pred).get._3 === best)
      assert(r.getLong(2) === counts.find(_._2 == pred).get._3)
      assert(r.getLong(3) === counts.map(_._3).sum)
      // accuracy of the argmax predictor is >= uniform-guess floor
      assert(r.getDouble(4) >= 1.0 / counts.length)
    }
    val overall = rows.find(_.getString(0) == "_overall").get
    assert(overall.getLong(2) === rows.filter(_.getString(0) != "_overall").map(_.getLong(2)).sum)
  }

  test("funnel timing percentiles are ordered and counts agree with q99 (q203)") {
    val timing = EventOps.funnelTiming(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    val stages = EventOps.funnelStages(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def atLeast(s: Long) = stages.filter(_._1 >= s).values.sum
    assert(timing("1_signup_to_view")._1 === atLeast(2))
    assert(timing("2_view_to_click")._1 === atLeast(3))
    assert(timing("3_click_to_purchase")._1 === atLeast(4))
    timing.values.foreach { case (n, med, p90, mx) =>
      assert(n > 0 && med > 0.0 && med <= p90.toDouble && p90 <= mx)
    }
  }

  test("burst detection matches an in-JVM sliding count and flags fire (q202)") {
    val got = EventOps.burstDetect(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val byUser = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) DIV 1000000").as("sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    byUser.foreach { case (uid, rows) =>
      val secs = rows.map(_._2).sorted
      val maxBurst = secs.map(s => secs.count(t => t >= s - 59 && t <= s)).max
      val (n, burst, flagged) = got(uid)
      assert(n === secs.length.toLong)
      assert(burst === maxBurst.toLong, s"user $uid")
      assert(flagged === (maxBurst > EventOps.BurstFlagThreshold))
    }
  }

  test("bootstrap CI brackets the full-sample mean and is ordered (q200)") {
    val fullMeans = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg((sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double") / count(lit(1))).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    EventOps.bootstrapCI(spark, sf).collect().foreach { r =>
      val (et, lo, mid, hi) = (r.getString(0), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(r.getLong(1) === EventOps.BootstrapReplicas.toLong)
      assert(lo <= mid && mid <= hi, et)
      // half-sample replica means concentrate around the true mean; the CI
      // must bracket it at these sample sizes
      assert(fullMeans(et) >= lo && fullMeans(et) <= hi, s"$et: ${fullMeans(et)} not in [$lo, $hi]")
    }
  }

  test("clamped balance equals an in-JVM fold and differs from unclamped (q197)") {
    val got = EventOps.clampedBalance(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val events = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("m"), col("event_id"),
        col("event_type"), col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        (r.getDecimal(4).movePointRight(2)).longValueExact()))
      .groupBy(_._1)
    var clampMattered = false
    events.foreach { case (uid, rows) =>
      val ds = rows.sortBy(r => (r._2, r._3)).map(r => if (r._4 == "purchase") -r._5 else r._5)
      val clamped = ds.foldLeft(0L)((acc, d) => math.max(acc + d, 0L))
      val raw = ds.sum
      assert(got(uid) === clamped, s"user $uid")
      if (clamped != math.max(raw, 0L)) clampMattered = true
    }
    // the dataset must actually exercise the clamp (otherwise this op is a sum)
    assert(clampMattered)
  }

  test("chi2 cells: marginals reconstruct N and contributions are sane (q196)") {
    val rows = EventOps.chi2Cells(spark, sf).collect()
    val n = Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum === n)
    // expected-count marginals must also total N (independence preserves mass)
    assert(math.abs(rows.map(_.getDouble(3)).sum - n.toDouble) < 1e-2)
    rows.foreach(r => assert(r.getDouble(4) >= 0.0))
    // the total chi2 statistic, assembled in-JVM from the exact cells
    val chi2 = rows.map(r => {
      val e = r.getDouble(3); val o = r.getLong(2).toDouble
      (o - e) * (o - e) / e
    }).sum
    assert(chi2 >= 0.0 && !chi2.isNaN)
  }

  test("time-weighted avg matches an in-JVM trapezoid walk per user (q195)") {
    val got = EventOps.timeWeightedAvg(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val byUser = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("micros"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    byUser.foreach { case (uid, rows) =>
      // window order is full-precision (ts, event_id); durations truncate
      // to whole seconds only afterwards — mirror that exactly
      val sorted = rows.sortBy(r => (r._3, r._2)).toSeq
      val segs = sorted.sliding(2).collect {
        case Seq(a, b) if b._3 / 1000000 > a._3 / 1000000 =>
          (b._3 / 1000000 - a._3 / 1000000,
            (BigDecimal(a._4).setScale(2, BigDecimal.RoundingMode.HALF_UP) +
              BigDecimal(b._4).setScale(2, BigDecimal.RoundingMode.HALF_UP)) *
              (b._3 / 1000000 - a._3 / 1000000))
      }.toSeq
      if (segs.nonEmpty) {
        val (n, tot, twa) = got(uid)
        assert(n === segs.size.toLong)
        assert(tot === segs.map(_._1).sum)
        val expect = (segs.map(_._2).sum / (2 * segs.map(_._1).sum)).toDouble
        assert(math.abs(twa - expect) < 1e-5, s"user $uid")
      } else assert(!got.contains(uid))
    }
  }

  test("OLS trend agrees with built-in regr_slope/intercept to 1e-6 (q193)") {
    val got = EventOps.olsTrend(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val ref = Tables.events(spark, sf)
      .groupBy(col("event_type"),
        datediff(date_trunc("day", col("ts")), lit("2020-01-01").cast("date")).as("x"))
      .agg(sum(col("value")).as("y"))
      .groupBy(col("event_type"))
      .agg(expr("regr_slope(y, x)").as("sl"), expr("regr_intercept(y, x)").as("ic"),
        expr("regr_r2(y, x)").as("r2"))
      .collect()
    ref.foreach { r =>
      val (sl, ic, r2) = got(r.getString(0))
      assert(math.abs(sl - r.getDouble(1)) < 1e-4, s"slope ${r.getString(0)}")
      assert(math.abs(ic - r.getDouble(2)) < 1e-2, s"intercept ${r.getString(0)}")
      assert(math.abs(r2 - r.getDouble(3)) < 1e-4, s"r2 ${r.getString(0)}")
      assert(r2 >= 0.0 && r2 <= 1.0)
    }
  }

  test("ewma is a convex combination of its window's day totals (q191)") {
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double").as("v"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getDouble(2)).toMap
    val dayMs = 86400000L
    EventOps.ewmaDaily(spark, sf).collect().foreach { r =>
      val (et, day) = (r.getString(0), r.getTimestamp(1).getTime)
      val window = (0 to 6).flatMap(k => daily.get((et, day - k * dayMs)))
      val ewma = r.getDouble(3)
      assert(ewma >= window.min - 1e-6 && ewma <= window.max + 1e-6, s"$et $day")
      assert(r.getLong(4) === window.size.toLong)
      if (window.size == 1) assert(math.abs(ewma - r.getDouble(2)) < 1e-6)
    }
  }

  test("scene cuts match an in-JVM fingerprint walk per document (q190)") {
    val got = MultimodalOps.sceneCuts(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(30).collect()
    docs.foreach { r =>
      val bytes = r.getString(1).getBytes("UTF-8")
      val nf = bytes.length / 40
      if (nf > 0) {
        // corpus is ASCII (the audioChunks invariant), so byte == char
        val fps = (0 until nf).map(f => bytes(f * 40).toLong & 0xffL)
        val deltas = fps.sliding(2).collect { case Seq(a, b) => math.abs(b - a) }.toSeq
        val expect = (nf.toLong, deltas.count(_ > 64).toLong,
          if (deltas.isEmpty) 0L else deltas.max)
        assert(got(r.getLong(0)) === expect, s"doc ${r.getLong(0)}")
      } else assert(!got.contains(r.getLong(0)))
    }
  }

  test("phash near-dup pairs equal the in-JVM banded brute force (q187)") {
    // Collect every (doc_id, phash), brute-force all pairs in the JVM with
    // the SAME candidate rule (some 16-bit band equal) + verify rule
    // (hamming <= max), and demand set equality with the operator output —
    // proves the band shuffle loses exactly the pairs the blocking scheme
    // says it may, and nothing else.
    val hs = MultimodalOps.phashes(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    assert(hs.nonEmpty)
    val expect = (for {
      i <- hs.indices.iterator; j <- (i + 1) until hs.length
      (ida, a) = hs(i); (idb, b) = hs(j)
      if (0 to 3).exists(k => ((a >>> (k * 16)) & 0xffffL) == ((b >>> (k * 16)) & 0xffffL))
      h = java.lang.Long.bitCount(a ^ b)
      if h <= MultimodalOps.PhashMaxHamming
    } yield (ida, idb, h.toLong)).toSet
    val rows = MultimodalOps.phashNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = rows.toSet
    assert(rows.length === got.size, "a pair was emitted more than once")
    assert(got === expect)
  }

  test("secondary-sort gap stats equal the window-lag computation (q128)") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sec = floor(col("ts").cast("double")).cast("long")
    val viaWindow = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("gap", sec - lag(sec, 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        coalesce(max(col("gap")), lit(0L)).as("max_gap_s"),
        when(count(lit(1)) > 1,
          OracleMath.stableRound(sum(col("gap")).cast("double") / (count(lit(1)) - 1), 2))
          .otherwise(lit(0.0)).as("mean_gap_s"))
      .orderBy(col("user_id")).collect().map(_.toSeq).toSeq
    val got = EventOps.userGapStats(spark, sf).collect().map(_.toSeq).toSeq
    assert(got === viaWindow)
  }

  test("dynamic partition overwrite touches only the target day (q130)") {
    val g = EventOps.partitionOverwrite(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // static mode would have wiped the table down to the one rewritten day
    assert(g.size > 1, "all untouched partitions must survive the overwrite")
    val src = Tables.events(spark, sf)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(g.keySet === src.keySet)
    src.foreach { case (day, (n, s)) =>
      assert(g(day)._1 === n, s"$day row count unchanged")
      if (day != "2024-01-05") assert(g(day)._2 === s, s"$day untouched")
      else assert(math.abs(g(day)._2 - 2 * s) < 1e-6, "target day doubled")
    }
  }

  test("explode_outer preserves every document; plain explode drops some (q134)") {
    val outer = TextOps.explodeOuterTokens(spark, sf)
    val nDocs = Tables.documents(spark, sf).count()
    assert(outer.select(col("doc_id")).distinct().count() === nDocs)
    val dropped = outer.filter(col("w").isNull).count()
    assert(dropped > 0, "corpus should contain docs with no long token")
    // the row-dropping variant loses exactly those documents
    val inner = Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), w => length(w) >= 8)).as("w"))
    assert(inner.select(col("doc_id")).distinct().count() === nDocs - dropped)
  }

  test("argmax: top_key's actual price equals the group max") {
    val priced = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    CoreOps.argmaxPerGroup(spark, sf).collect().foreach { r =>
      assert(priced(r.getLong(1)) === r.getDouble(3), s"${r.getString(0)} top")
      assert(priced(r.getLong(2)) === r.getDouble(4), s"${r.getString(0)} bottom")
    }
  }
}
