package graft.ops

import graft.ops.Caches.Tracked

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core relational operators (SURVEY.md §2.2–§2.7), re-expressed Spark-first
  * over the driver testdata.
  *
  * Oracle-parity conventions (the driver hash-compares against DuckDB):
  *  - Money/double aggregations go through `DecimalType(18,2)` per-row casts so
  *    the sum is exact and independent of partition/accumulation order (a raw
  *    double sum differs in the last ulps between 32-partition Spark and
  *    single-threaded DuckDB). The decimal sum is cast back to double and
  *    `round`ed only at the outermost step.
  *  - Every query output is fully ordered with a unique tie-breaker so LIMIT
  *    boundaries are deterministic.
  *  - Column names are aliased identically here and in the oracle SQL.
  *
  * Scale notes (100 TB): every aggregation below is a partial+final hash
  * aggregate (map-side combine) with one shuffle on the group keys; joins
  * against dimension tables are explicit `broadcast()`; fact⋈fact joins are
  * sort-merge on the shuffle keys and benefit from AQE skew handling.
  */
object CoreOps {

  /** Exact-sum helper: per-row cast to decimal so Σ is order-independent. */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Scale-4 variant for price×(1−discount) products: 2dp × 2dp is exactly a
    * 4dp decimal, so this cast is lossless and can never hit a rounding tie
    * (rounding a 4dp-exact value at scale 2 ties on .xx50 ~1% of rows, and
    * Spark/DuckDB resolve those ties differently — observed in testing).
    */
  private def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  /** Final presentation: decimal → double, rounded. */
  private def d2(c: Column, s: Int = 2): Column = round(c.cast("double"), s)
  /** Average computed as exact decimal sum → double, *then* divided — the
    * same double division DuckDB performs, so results are bit-comparable.
    */
  private def avgOf(c: Column, s: Int): Column =
    OracleMath.stableRound(sum(dec(c)).cast("double") / count(lit(1)), s)

  // ---------------------------------------------------------------------------
  // A1/A7-family aggregations
  // ---------------------------------------------------------------------------

  /** TPC-H Q1-shaped pricing summary — the A7 "GROUP BY + COUNT + AVG" shape
    * (reference: datalens_dashboard/sql_queries/vacancy_analysis.sql:11-19) at
    * fact-table scale. One shuffle; partial aggregation map-side.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        d2(sum(dec(col("l_quantity")))).as("sum_qty"),
        d2(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).cast("double").as("sum_disc_price"),
        avgOf(col("l_quantity"), 4).as("avg_qty"),
        avgOf(col("l_extendedprice"), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Flagship (SURVEY §7.2): dedup by key then GROUP BY + COUNT + ROUND(AVG) +
    * ORDER BY cnt DESC LIMIT — A7 over `orders`, with D2 key-dedup in front.
    * `o_orderkey` is unique in the data, so the dedup is deterministic; the
    * general deterministic-survivor variant is [[dedupByKeyDeterministic]].
    */
  def priorityAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .dropDuplicates("o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("vacancy_count"),
        avgOf(col("o_totalprice"), 0).as("avg_price"))
      .orderBy(desc("vacancy_count"), col("o_orderpriority"))
      .limit(20)

  /** A8: market share via an aggregate nested in an unpartitioned window —
    * `COUNT(*) * 100.0 / SUM(COUNT(*)) OVER ()` (vacancy_analysis.sql:23-31).
    * The empty window frame plans as a single-partition exchange over the
    * *aggregated* rows (5 here, tiny at any scale) — not over the fact table.
    */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .filter(!col("o_orderpriority").isin("4-NOT SPECIFIED"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("vacancy_count"))
    counts
      .withColumn("market_share_pct",
        OracleMath.stableRound(col("vacancy_count") * lit(100.0) / sum(col("vacancy_count")).over(Window.partitionBy()), 1))
      .orderBy(desc("vacancy_count"), col("o_orderpriority"))
  }

  /** A3+A4: top-K frequency with percent-of-total (reference `most_common(k)`
    * + pct, dag:405-410). Total comes from the same single aggregation via an
    * unpartitioned window over the small grouped result.
    */
  def topkBrandPercent(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.part(spark, dir)
      .groupBy(col("p_brand")).agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("pct", OracleMath.stableRound(col("cnt") * lit(100.0) / sum(col("cnt")).over(Window.partitionBy()), 1))
      .orderBy(desc("cnt"), col("p_brand"))
      .limit(10)
  }

  /** A5/P8: conditional success-rate — `sum(when(...))` over a NOT-IN
    * predicate, as the reference's success metrics (dag:413-416, 781-784).
    */
  def conditionalRate(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("total"),
        sum(when(!col("o_orderpriority").isin("3-MEDIUM", "4-NOT SPECIFIED"), 1L).otherwise(0L)).as("classified"))
      .withColumn("success_rate_pct", OracleMath.stableRound(col("classified") * lit(100.0) / col("total"), 1))
      .orderBy(col("o_orderstatus"))

  /** A6: first-N failing examples with truncation+ellipsis (dag:424-432, F2).
    * Deterministic: ordered by key before the limit.
    */
  def failingExamples(spark: SparkSession, dir: String): DataFrame = {
    val name = col("p_name")
    Tables.part(spark, dir)
      .filter(col("p_type") === "ECONOMY")
      .select(
        col("p_partkey"),
        when(length(name) > 8, concat(substring(name, 1, 8), lit("..."))).otherwise(name).as("example"))
      .orderBy(col("p_partkey"))
      .limit(10)
  }

  /** A2-extension: one pass computing counts for two independent dimensions
    * via ROLLUP (status, priority) — replaces the reference's two separate
    * Counter passes (dag:767-769) with a single shuffle.
    */
  def rollupCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** GROUPING SETS ((status), (priority)): two independent per-column
    * frequency distributions in ONE scan of orders — the engine form of the
    * reference's pair of separate Counter passes over `category` and
    * `specialization` (SURVEY §2.5 A2/A1; dag:767-769), which re-read the
    * data once per distribution. Expansion happens after the partial
    * aggregate, so the scan and map-side combine are shared.
    */
  def groupingSetsCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Correlated-subquery family through the SQL surface: EXISTS, NOT EXISTS,
    * and a correlated scalar `count(*)` per customer, aggregated per market
    * segment. Catalyst decorrelates all three (`RewritePredicateSubquery`,
    * `RewriteCorrelatedScalarSubquery`) into semi/anti/outer joins — the plan
    * is three aggregated joins over customer⇄orders, not a per-row loop. The
    * price threshold is an uncorrelated scalar subquery on `max()` — exact in
    * both engines (no float accumulation), so the predicate can't flip on an
    * ulp.
    */
  def correlatedSubqueries(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT c_mktsegment,
        | count(*) AS n_customers,
        | sum(CASE WHEN EXISTS (SELECT 1 FROM graft_orders o
        |                       WHERE o.o_custkey = c.c_custkey
        |                         AND o.o_orderpriority = '1-URGENT')
        |     THEN 1 ELSE 0 END) AS n_with_urgent,
        | sum(CASE WHEN NOT EXISTS (SELECT 1 FROM graft_orders o
        |                           WHERE o.o_custkey = c.c_custkey)
        |     THEN 1 ELSE 0 END) AS n_no_orders,
        | sum((SELECT count(*) FROM graft_orders o
        |      WHERE o.o_custkey = c.c_custkey
        |        AND o.o_totalprice > 0.5 * (SELECT max(o_totalprice) FROM graft_orders)))
        |   AS n_big_orders
        |FROM graft_customer c
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  /** UNPIVOT (melt): the wide per-status aggregate turned into long
    * (status, measure, value) rows — the inverse of q62's pivot and the
    * standard reshape before a generic metric sink. `Dataset.unpivot` plans
    * as an `Expand` (no shuffle beyond the aggregation's own).
    */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("double").as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
        max(col("o_totalprice")).as("max_price"))
      .unpivot(Array(col("o_orderstatus")),
        Array(col("n_orders"), col("sum_price"), col("max_price")),
        "measure", "value")
      .orderBy(col("o_orderstatus"), col("measure"))

  /** Time-RANGE window frame: per-customer rolling 90-day spend. The frame
    * is `RANGE BETWEEN 89 PRECEDING AND CURRENT ROW` over days-since-epoch —
    * a value-range frame (calendar semantics: includes every order within
    * the trailing window regardless of row count), not a row-count frame
    * like q63's running total. Decimal per-row casts keep every frame sum
    * exact under any intra-frame order.
    */
  def rollingSpend(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-89, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("day",
        datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01"))).cast("long"))
      .withColumn("spend_90d", sum(dec(col("o_totalprice"))).over(w).cast("double"))
      .select(col("o_orderkey"), col("o_custkey"), col("day"), col("spend_90d"))
      .orderBy(col("o_custkey"), col("day"), col("o_orderkey"))
  }

  // ---------------------------------------------------------------------------
  // Set ops / dedup / distinct (D1-D5, U1)
  // ---------------------------------------------------------------------------

  /** U1+D1: union-all then full-row dedup (`pd.concat` + `drop_duplicates()`,
    * dag:111-122), summarized per returnflag so the output is small. The
    * distinct is one hash-partition shuffle on all columns; at 100 TB prefer
    * the key-dedup below on a real key.
    */
  def unionDedup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.unionByName(li)
      .dropDuplicates()
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))
  }

  /** D2 with a deterministic survivor: `row_number() OVER (PARTITION BY key
    * ORDER BY tiebreak) = 1` instead of pandas' positional keep-first, which
    * has no stable meaning after a shuffle (SURVEY §2.3 caveat).
    */
  def dedupByKeyDeterministic(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    Tables.lineitem(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .orderBy(col("l_orderkey"))
  }

  /** D3/D4: distinct-key extraction with the trim + non-empty guard the
    * reference applies before classification (dag:147-159). This exact shape
    * feeds the enrichment engine — it is the reference's defining
    * optimization (classify O(distinct) not O(rows)).
    */
  def distinctKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(trim(col("p_name")).as("key"))
      .filter(col("key") =!= "")
      .distinct()
      .orderBy(col("key"))

  // ---------------------------------------------------------------------------
  // Joins (J1-J3 shapes + real fact⋈fact joins)
  // ---------------------------------------------------------------------------

  /** Multi-table star join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region.
    * Dimensions are explicitly broadcast (no shuffle for them); the
    * lineitem⋈orders join is a shuffle (sort-merge / shuffled-hash chosen by
    * the planner + AQE). Revenue per nation of customers in one region.
    */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("n_items"), col("n_name"))
  }

  /** J3 semi-join guard shape: keep left rows whose key exists on the right
    * (reference drops classifier outputs not in the batch, dag:590-603).
    * Planned as a broadcast/shuffled left-semi — right side never duplicated.
    */
  def semiJoinOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 49.0)
      .select(col("l_orderkey").as("o_orderkey"))
    Tables.orders(spark, dir)
      .join(big, Seq("o_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  /** J3's complement (the logged/dropped side): anti join — customers with
    * no URGENT order. (Against ALL orders the complement is empty at every
    * scale factor — a 0-row result verifies trivially; the filtered right
    * side keeps the anti join's discriminating power in the gate.)
    */
  def antiJoinCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    Tables.customer(spark, dir)
      .join(o, Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** The runtime-filter (bloom) join workload: lineitems of urgent orders,
    * sort-merge joined. [[runtimeFilterJoin]] materializes it with bloom
    * injection forced on; this builder is separate so the plan spec can
    * inspect the optimized plan directly.
    */
  private[graft] def urgentLineRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    Tables.lineitem(spark, dir)
      .join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).cast("double").as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** Runtime bloom-filter join: Catalyst's `InjectRuntimeFilter` builds a
    * bloom filter from the join keys of the SELECTIVELY-FILTERED side
    * (urgent orders) and pushes `might_contain(l_orderkey)` into the fact
    * scan — lineitem rows of non-urgent orders die at the scan instead of
    * travelling through the shuffle. At 100 TB this is the difference
    * between shuffling ~20% of lineitem and all of it. The injection is
    * gated on the application side exceeding
    * `…applicationSideScanSizeThreshold` (10 GB default — exactly the
    * scale this engine targets); sf0.1 is below it, so the threshold is
    * dropped to 0 on a session of the query's own (`newSession`), never on
    * the caller's, and the plan is materialized (persist + count) there.
    * Semantics are unchanged (bloom false positives re-verify at the join)
    * ⇒ plain SQL oracle.
    */
  def runtimeFilterJoin(spark: SparkSession, dir: String): DataFrame = {
    // Injection requires the join to look like a SHUFFLE join to the
    // optimizer: `isProbablyShuffleJoin` rejects any join whose either side
    // `canBroadcastBySize`, even under an explicit merge hint — so the
    // broadcast threshold goes to -1 too (at the target scale both sides
    // exceed it naturally and only the scan-size threshold matters).
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = urgentLineRevenue(s, dir).persistTracked()
    df.count() // compile + run under the forced thresholds
    df
  }

  /** Approximate distinct counting (HyperLogLog++, rsd 2%) next to the
    * exact count it replaces at scale: an exact `count(DISTINCT user)` over
    * 100 TB shuffles every distinct value; the HLL sketch is O(kB) per
    * group, merged commutatively (register-wise max), so the result is
    * deterministic under any partitioning — but sketch estimates are
    * implementation-specific, so there is no cross-engine oracle (driver
    * rows-check); the spec bounds |approx − exact| instead.
    */
  /** CDC upsert (the MERGE INTO shape): apply a change set to the latest
    * snapshot — matched keys take the update row, unmatched keep the base
    * row. Composed as `updates ∪ (base ⟕anti updates)`: one shuffle on the
    * key for the anti join (or zero if both sides are bucketed by key, see
    * [[bucketedJoin]]), no driver-side diffing. This is how a 100 TB snapshot
    * absorbs a daily delta without rewriting unmatched partitions — pair
    * with partition pruning so only partitions containing changed keys are
    * read. The change set here is synthetic but derived deterministically
    * from the base (keys ≡ 0 mod 100 get status 'X' and a 10% price bump),
    * so the oracle reproduces it exactly.
    */
  def upsertOrders(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val updates = base.filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
        (col("o_totalprice") * 1.1).as("o_totalprice"))
    val merged = updates.unionByName(
      base.join(updates.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti"))
    merged.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec4(col("o_totalprice"))).cast("double").as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Approximate quantiles (Greenwald-Khanna via `approx_percentile`) next
    * to the exact percentile they replace at scale: exact percentile
    * collects every value per group; the GK sketch is bounded-size and
    * mergeable. Sketch outputs are implementation-specific → no cross-engine
    * oracle (driver rows-check); the spec brackets the approx median between
    * generous exact quantile bounds instead.
    */
  /** The raw GK-sketch estimate is implementation-defined (unhashable across
    * engines), so the query emits the estimate's VALUE-WINDOW MEMBERSHIP as
    * an oracle-checkable boolean instead: `approx_ok` = the approximate
    * median lies within the exact [p40, p60] value window, computed in the
    * same aggregate. The oracle asserts TRUE — a broken sketch fails the
    * driver's hash gate, not just a spec. The exact median rides along,
    * hash-checked.
    */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        OracleMath.stableRound(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_exact"),
        (expr("approx_percentile(l_extendedprice, 0.5, 10000)")
          .between(expr("percentile(l_extendedprice, 0.4)"),
            expr("percentile(l_extendedprice, 0.6)"))).as("approx_ok"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Same oracle-checkable-envelope pattern as [[approxQuantiles]]:
    * `approx_ok` = |HLL estimate − exact| ≤ max(1, 10%·exact) (5σ at
    * rsd 2%), asserted TRUE by the oracle; the exact count rides along
    * hash-checked.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users_exact"),
        (abs(approx_count_distinct(col("user_id"), 0.02) - countDistinct(col("user_id")))
          <= greatest(lit(1.0), countDistinct(col("user_id")) * lit(0.10))).as("approx_ok"))
      .orderBy(col("event_type"))

  // ---------------------------------------------------------------------------
  // Window functions beyond the reference (capability breadth)
  // ---------------------------------------------------------------------------

  /** Statistical aggregates: Pearson correlation and sample stddev per
    * group. Both engines accumulate in doubles with different orders, so the
    * drift (~1e-12 relative) is absorbed by stable rounding at 1e-6.
    */
  def statsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        OracleMath.stableRound(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
        OracleMath.stableRound(stddev_samp(col("l_discount")), 6).as("discount_stddev"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Interpolated percentiles (median / p90) per group — exact
    * `percentile()` (sort-based within group); DuckDB's `quantile_cont` uses
    * the same type-7 linear interpolation, and [[OracleMath.stableRound]]
    * absorbs the one-ulp formula differences. At 100 TB the approximate
    * sketch (`approx_percentile`, KLL/GK) replaces this; the exact form is
    * the verifiable baseline.
    */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        OracleMath.stableRound(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        OracleMath.stableRound(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Grouped t-digest quantiles via the custom
    * [[graft.functions.TDigestQuantiles]] `TypedImperativeAggregate` — the
    * 100 TB replacement for [[quantiles]]' exact sort-based percentile:
    * constant memory per group (O(δ) centroids), mergeable partials
    * (map-side combine works like any algebraic aggregate), relative tail
    * accuracy. Estimates are merge-order dependent (inherent to the sketch),
    * so like [[approxQuantiles]] the query emits each estimate's VALUE-WINDOW
    * MEMBERSHIP (p50 within exact [p45, p55], p90 within exact [p85, p95] —
    * 5% rank slack vs the ≤2% the spec measures) as oracle-checkable
    * booleans the DuckDB twin asserts TRUE. The spec additionally bounds
    * raw rank error and proves merge(partials) ≈ direct. q136 is the
    * deterministic hash-matchable sibling; q52 the exact baseline.
    */
  def tdigestQuantiles(spark: SparkSession, dir: String): DataFrame = {
    def pct(p: Double) = expr(s"percentile(l_extendedprice, $p)")
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(graft.functions.VectorFunctions.tdigest(col("l_extendedprice"),
          array(lit(0.5), lit(0.9)), lit(100.0)).as("qs"),
        pct(0.45).as("lo50"), pct(0.55).as("hi50"),
        pct(0.85).as("lo90"), pct(0.95).as("hi90"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        element_at(col("qs"), 1).between(col("lo50"), col("hi50")).as("ok50"),
        element_at(col("qs"), 2).between(col("lo90"), col("hi90")).as("ok90"),
        col("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Calendar aggregation: monthly order counts + exact revenue. The month
    * column prunes date-partitioned parquet at scale.
    */
  def monthlyOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("month"))

  /** Set operators (INTERSECT / EXCEPT) — absent from the reference but part
    * of a complete relational surface: customers with both F- and O-status
    * orders, minus those with P-status orders.
    */
  def customerSetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def byStatus(s: String) = o.filter(col("o_orderstatus") === s).select(col("o_custkey")).distinct()
    byStatus("F").intersect(byStatus("O")).except(byStatus("P"))
      .orderBy(col("o_custkey"))
  }

  /** Join/group-key skew profile — the MEASUREMENT that decides whether
    * [[saltedAgg]]/[[saltedJoin]]'s salting (or AQE skew split) is needed and
    * at what factor, before a 100 TB shuffle finds out the hard way. One
    * map-side-combined count per key, then a tiny stats aggregate per
    * profiled key, reporting BOTH decision statistics side by side:
    *
    *  - `skew_ratio`/`salt_factor` — max/mean per KEY (the naive statistic:
    *    replication needed to flatten the hottest key to the mean key);
    *  - `ref32_straggler_ratio`/`ref32_auto_salt` — max over an average
    *    TASK's share at a FIXED reference 32-slot layout (the `ref32_`
    *    prefix makes the fixed layout explicit — the report must stay
    *    oracle-deterministic across sessions, so it cannot read the live
    *    `spark.sql.shuffle.partitions` the way
    *    [[graft.plans.IntervalJoin.chooseSaltFactor]] does; a session with
    *    different parallelism can reach a different live decision at the
    *    same data, and these columns replay the RULE, not the session).
    *    The statistic itself is what the chooser consumes, because a key 4×
    *    the mean key is irrelevant when every task holds thousands of keys.
    *    The two columns disagreeing (salt_factor 2, ref32_auto_salt 1 on
    *    l_suppkey) IS the report's message: naive skew says salt,
    *    task-relative says don't. ref32_auto_salt replays the chooser's
    *    rule in exact integer arithmetic (trigger ratio 1.5 ⇔
    *    64·max ≤ 3·rows; ⌈32·max∕rows⌉ capped at 64).
    *
    * Percentiles are exact here for oracle-ability; production would swap in
    * the mergeable t-digest (q137) at no plan-shape change.
    */
  def keySkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def profile(keyName: String): DataFrame =
      li.groupBy(col(keyName).as("k")).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
          max(col("cnt")).as("max_cnt"),
          OracleMath.stableRound(expr("percentile(cnt, 0.5)"), 4).as("p50_cnt"),
          OracleMath.stableRound(expr("percentile(cnt, 0.99)"), 4).as("p99_cnt"))
        .select(lit(keyName).as("key_name"), col("n_keys"), col("n_rows"),
          col("max_cnt"), col("p50_cnt"), col("p99_cnt"),
          OracleMath.stableRound(
            col("max_cnt") * col("n_keys").cast("double") / col("n_rows"), 4).as("skew_ratio"),
          expr("(max_cnt * n_keys + n_rows - 1L) DIV n_rows").as("salt_factor"),
          OracleMath.stableRound(
            col("max_cnt") * lit(32.0) / col("n_rows"), 4).as("ref32_straggler_ratio"),
          expr("CASE WHEN max_cnt * 64L <= 3L * n_rows THEN 1L " +
            "ELSE LEAST(64L, (max_cnt * 32L + n_rows - 1L) DIV n_rows) END").as("ref32_auto_salt"))
    profile("l_suppkey").unionByName(profile("l_orderkey")).orderBy(col("key_name"))
  }

  /** Skew-resilient two-phase aggregation: salt the group key, partially
    * aggregate on (key, salt), then re-aggregate on the key. Result is
    * identical to a plain groupBy (the oracle computes it that way) but a
    * hot key's rows spread over `salt` buckets in the first shuffle — the
    * manual counterpart of AQE skew handling, for aggregations AQE doesn't
    * split. Exact decimal sums keep the two-phase total bit-identical.
    */
  def saltedAgg(spark: SparkSession, dir: String, saltBuckets: Int = 8): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("salt", pmod(col("o_orderkey"), lit(saltBuckets)))
      .groupBy(col("o_orderpriority"), col("salt"))
      .agg(count(lit(1)).as("c"), sum(dec(col("o_totalprice"))).as("s"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("c")).as("cnt"), sum(col("s")).cast("double").as("total_price"))
      .orderBy(col("o_orderpriority"))

  /** q334 — ADAPTIVE two-phase aggregation: [[saltedAgg]]'s salting decided
    * by measurement instead of a constant. The same straggler statistic the
    * salted interval join consumes
    * ([[graft.plans.IntervalJoin.chooseSaltFactor]] — the hottest group
    * key's share of one reduce task) picks between the plain single-shuffle
    * aggregate (two-phase costs an EXTRA exchange when no straggler exists;
    * Spark's partial aggregation already handles mere key imbalance) and
    * the (key, salt) partial phase sized to split the hot key into
    * task-sized chunks. Run over the q331 mega-entity corpus (one key
    * holding ~90 % of all orders — partial aggregation does NOT save an
    * unsalted plan here, because the reduce-side combine of one key still
    * lands in one task when the upstream map outputs are many), the
    * chooser arms; on TPC-H's own keys it would pick the plain plan
    * (plan-pinned both ways). Exact decimal sums keep the two-phase total
    * bit-identical to the plain GROUP BY oracle.
    */
  def adaptiveSaltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.orders(spark, dir).select(
      when(col("o_custkey") % 10 === 0, col("o_custkey").cast("long"))
        .otherwise(lit(0L)).as("k"),
      col("o_orderkey"), col("o_totalprice"))
    val factor = graft.plans.IntervalJoin.chooseSaltFactor(pts, Seq(col("k")))
    val agged =
      if (factor == 1)
        pts.groupBy(col("k"))
          .agg(count(lit(1)).as("n_orders"), sum(dec(col("o_totalprice"))).as("s"))
      else
        pts.withColumn("__salt",
            pmod(xxhash64(col("o_orderkey")), lit(factor.toLong)).cast("int"))
          .groupBy(col("k"), col("__salt"))
          .agg(count(lit(1)).as("c"), sum(dec(col("o_totalprice"))).as("ps"))
          .groupBy(col("k"))
          .agg(sum(col("c")).as("n_orders"), sum(col("ps")).as("s"))
    agged.select(col("k"), col("n_orders").cast("long").as("n_orders"),
        col("s").cast("double").as("revenue"))
      .orderBy(col("k"))
  }

  val adaptiveSaltedAggOracle: String =
    """SELECT CASE WHEN o_custkey % 10 = 0 THEN o_custkey ELSE 0 END AS k,
      | count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1 ORDER BY k""".stripMargin

  /** Skew-resilient JOIN by salt replication — the join-side counterpart of
    * [[saltedAgg]]: the fact side gets a salt, the dimension side is
    * REPLICATED once per salt value (explode over 0..k−1), and the join key
    * becomes (key, salt) — a hot fact key's rows now land in k shuffle
    * partitions instead of one. This is the manual fix for skewed
    * shuffle joins that AQE's skew split cannot handle (e.g. when the skew
    * is in the JOIN KEY distribution itself and the dimension is too big to
    * broadcast); the `shuffle_hash` hint pins the shuffled plan so the salt
    * demonstrably spreads the keys (an unhinted run would broadcast this
    * dimension and never shuffle). Cost: dimension inflated k× — the knob
    * trades replication for balance. Result is identical to the plain join,
    * which is exactly what the oracle computes.
    */
  def saltedJoin(spark: SparkSession, dir: String, salt: Int = 8): DataFrame = {
    val fact = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), dec(col("l_extendedprice")).as("price"),
        pmod(col("l_orderkey"), lit(salt.toLong)).as("fsalt"))
    val dim = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"),
        explode(sequence(lit(0L), lit(salt.toLong - 1))).as("dsalt"))
      .hint("shuffle_hash")
    fact.join(dim, col("l_suppkey") === col("s_suppkey") && col("fsalt") === col("dsalt"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"), sum(col("price")).cast("double").as("revenue"))
      .orderBy(col("s_nationkey"))
  }

  /** Ranked-within-group: top-3 most expensive orders per priority via
    * row_number over a partitioned window (deterministic tie-break on key).
    */
  def topOrdersPerPriority(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w).cast("long")) // long: DuckDB row_number() is BIGINT
      .filter(col("rk") <= 3)
      .select(col("o_orderpriority"), col("rk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rk"))
  }

  /** FULL OUTER join shape: customers ⋈ a per-customer order aggregate,
    * keeping both customer-less orders (none in this data) and order-less
    * customers (real). Plans as a sort-merge FullOuter — the one join type
    * the library didn't exercise yet; coalesce gives the relational
    * "0 orders" reading.
    */
  def fullOuterCustomerOrders(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    Tables.customer(spark, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        when(col("c_custkey").isNull, lit("missing")).otherwise(col("c_mktsegment")).as("segment"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy(col("custkey"))
  }

  /** Multiset (bag) set operations: EXCEPT ALL / INTERSECT ALL preserve
    * duplicity — the bag semantics DISTINCT-based set ops (q55) erase.
    * Spark plans these as aggregate+generate replication rather than joins.
    */
  def multisetOps(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
      .select(col("o_custkey"))
    f.exceptAll(o)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_surplus"))
      .orderBy(col("o_custkey"))
  }

  /** Ranking-function suite over one partitioned window: dense_rank (gap-
    * free), percent_rank (exact (r−1)/(n−1) double — both engines divide the
    * same ints), ntile quartiles, and a running first_value. One shuffle on
    * the partition key serves all four.
    */
  def rankFunctions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        dense_rank().over(w).cast("long").as("drk"),
        percent_rank().over(w).as("prk"),
        ntile(4).over(w).cast("long").as("quartile"),
        first(col("o_orderkey")).over(w).as("top_key"))
      .filter(col("drk") <= 5)
      .orderBy(col("o_orderpriority"), col("drk"), col("o_orderkey"))
  }

  /** CUBE: counts over every grouping-set combination of (status, priority)
    * — the all-combinations sibling of q08's ROLLUP (together they cover the
    * GROUPING SETS family). One expand + one shuffle, partial aggregation
    * map-side.
    */
  def cubeCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** Pivot (cross-tab): order counts by priority × status, statuses as
    * columns. One shuffle on the group key; the pivot value list is explicit
    * so no extra distinct-values job runs. Empty cells coalesce to 0, the
    * relational (conditional-count) semantics the oracle uses.
    */
  def pivotCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy(col("o_orderpriority"))

  /** Running-window suite per customer: sequence number, cumulative spend,
    * previous order price — row_number / sum / lag over one partitioned
    * ordered window (single shuffle on the partition key; unique (date, key)
    * ordering makes RANGE and ROWS frames agree, so both engines' default
    * frames match). Money folds through exact decimals.
    */
  def runningCustomerSpend(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast("long").as("seq"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_spend"),
        coalesce(lag(dec(col("o_totalprice")), 1).over(w).cast("double"), lit(0.0)).as("prev_price"))
      .orderBy(col("o_custkey"), col("seq"))
  }

  /** SCD2 (slowly-changing-dimension type 2) history derivation: turn each
    * customer's order stream into priority validity intervals — collapse
    * runs of unchanged priority (the defining SCD2 step: a no-change event
    * produces no new version), then `valid_to` = next change's `valid_from`,
    * open interval = current version. The warehouse-maintenance twin of the
    * CDC upsert (q96): MERGE keeps the latest row, SCD2 keeps the history.
    * One shuffle on the entity key; both windows share the same
    * partitioning, so Catalyst plans a single sort.
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame =
    scd2HistoryBase(spark, dir)
      .orderBy(col("o_custkey"), col("valid_from"), col("priority"))

  /** [[scd2History]] without the presentation sort — downstream consumers
    * (q261/q262's keyed interval join) re-cluster on the entity key anyway,
    * and the key-hash partitioning the window pass already established is
    * exactly the distribution the join needs, so no extra exchange appears
    * between history derivation and join.
    */
  private[graft] def scd2HistoryBase(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderpriority"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("o_orderpriority").as("priority"),
        col("o_orderdate").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Point-in-time reconstruction from SCD2 history — the read side of
    * q113 (which builds the history): AS OF a literal date, each key's
    * surviving row is the one interval with `valid_from ≤ D < valid_to`
    * (intervals partition the key's timeline by construction, so exactly
    * one matches). The query is self-verifying: it emits the
    * interval-reconstructed value NEXT TO the direct argmax over the raw
    * facts ≤ D (the q175 merged-vs-direct shape) plus a match flag the
    * oracle pins true — a wrong history build OR a wrong as-of filter is a
    * hash mismatch. The history scan prunes to one row per key; the direct
    * side is a window argmax over date-filtered facts.
    */
  val Scd2AsOfDate = "1996-06-01"

  def scd2AsOf(spark: SparkSession, dir: String): DataFrame = {
    val d = lit(Scd2AsOfDate).cast("timestamp")
    val rec = scd2History(spark, dir)
      .filter(col("valid_from") <= d && (col("valid_to").isNull || col("valid_to") > d))
      .select(col("o_custkey"), col("priority").as("prio_asof"),
        col("valid_from").as("since"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
    val direct = Tables.orders(spark, dir)
      .filter(col("o_orderdate") <= d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderpriority").as("prio_direct"))
    rec.join(direct, Seq("o_custkey"))
      .select(col("o_custkey"), col("prio_asof"), col("since"), col("prio_direct"),
        (col("prio_asof") === col("prio_direct")).as("consistent"))
      .orderBy(col("o_custkey"))
  }

  val scd2AsOfOracle: String =
    s"""WITH ordered AS (
       |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
       |         lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
       |  FROM orders),
       |changes AS (SELECT * FROM ordered WHERE prev IS NULL OR prev <> o_orderpriority),
       |hist AS (SELECT o_custkey, o_orderpriority AS priority, o_orderdate AS valid_from,
       |           lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
       |         FROM changes),
       |rec AS (SELECT o_custkey, priority AS prio_asof, valid_from AS since
       |        FROM hist
       |        WHERE valid_from <= TIMESTAMP '$Scd2AsOfDate 00:00:00'
       |          AND (valid_to IS NULL OR valid_to > TIMESTAMP '$Scd2AsOfDate 00:00:00')),
       |direct AS (SELECT o_custkey, o_orderpriority AS prio_direct FROM (
       |    SELECT o_custkey, o_orderpriority,
       |           row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
       |    FROM orders WHERE o_orderdate <= TIMESTAMP '$Scd2AsOfDate 00:00:00') x
       |  WHERE rn = 1)
       |SELECT rec.o_custkey, prio_asof, since, prio_direct,
       |       prio_asof = prio_direct AS consistent
       |FROM rec JOIN direct ON rec.o_custkey = direct.o_custkey
       |ORDER BY rec.o_custkey""".stripMargin

  /** Max concurrent shipments in transit per month (interval = 7 days from
    * ship date), by the classic sweep-line: explode each interval into a +1
    * and a −1 event, order by (time, delta) — the −1-first tie order encodes
    * half-open intervals — and take the running sum's max.
    *
    * The global running sum is computed SCALABLY: per-month delta totals
    * (tiny) become cumulative carry-in offsets, and the running sum itself
    * is windowed PER MONTH plus the offset — the same two-pass distributed
    * prefix-sum as q102, here with a natural calendar partition instead of
    * a range partition. No single-partition window touches the fact table.
    */
  def transitSweep(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ev = li.select(col("l_shipdate").as("t"), lit(1L).as("delta"))
      .unionByName(li.select(
        (col("l_shipdate") + expr("INTERVAL 7 DAYS")).as("t"), lit(-1L).as("delta")))
      .withColumn("month", date_trunc("month", col("t")))
    val wm = Window.orderBy(col("month")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ev.groupBy(col("month")).agg(sum(col("delta")).as("d"))
      .withColumn("off", coalesce(sum(col("d")).over(wm), lit(0L)))
      .select(col("month"), col("off"))
    val wi = Window.partitionBy(col("month")).orderBy(col("t"), col("delta"))
    ev.join(broadcast(offsets), "month")
      .withColumn("conc", sum(col("delta")).over(wi) + col("off"))
      .groupBy(col("month"))
      .agg(max(col("conc")).as("max_in_transit"))
      .orderBy(col("month"))
  }

  /** Range join against a generated month dimension: each order lands in the
    * month interval containing its date — executed as a *binned* range join.
    *
    * A naive interval join is a broadcast nested-loop: every fact row tests
    * every interval (rows × intervals comparisons — measured as a bench hot
    * spot, and catastrophic at 100 TB × a fine-grained dimension). The binned
    * form is the standard scale path (Databricks' range-join optimization,
    * Postgres/GiST bucketing): pick a bin width, explode each interval over
    * the bins it overlaps, map each point to its single bin, then equi-join
    * on the bin key with the range predicate as a residual condition. The
    * join becomes a broadcast *hash* join — O(1) probe per fact row instead
    * of O(intervals), no fact-side shuffle or repartition needed, and the
    * same plan holds at any scale. Bin width = 1 month here, so each
    * interval covers exactly one bin; the `sequence` explode is the general
    * form for intervals wider than a bin.
    */
  /** One-pass column profiler (ANALYZE-style data-quality summary): per
    * column, non-null count, distinct count, min and max — the pre-flight a
    * pipeline runs before trusting a new drop of data. One scan of orders:
    * the multi-column distinct aggregate plans as a single Expand (rows ×
    * profiled columns) with map-side partials, so no per-column re-scan; the
    * wide one-row result is then unpivoted with an inline explode (no
    * driver collect). Numeric min/max go through DECIMAL(18,2) before the
    * string cast so Spark and DuckDB print bit-identical values, and min/max
    * are taken on the NATIVE type first (string-casting before min would
    * compare "10.00" < "2.00" lexicographically).
    */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.StringType
    val o = Tables.orders(spark, dir)
    val cols = Seq("o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")
    def asStr(c: Column, name: String): Column =
      if (o.schema(name).dataType == StringType) c else dec(c).cast("string")
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(c + "__nn"),
      countDistinct(col(c)).as(c + "__nd"),
      min(col(c)).as(c + "__mn"),
      max(col(c)).as(c + "__mx")) }
    val entries = array(cols.map { c => struct(
      lit(c).as("col_name"),
      col(c + "__nn").as("n_nonnull"),
      col(c + "__nd").as("n_distinct"),
      asStr(col(c + "__mn"), c).as("min_s"),
      asStr(col(c + "__mx"), c).as("max_s"))
    }: _*)
    o.agg(aggs.head, aggs.tail: _*)
      .select(explode(entries).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.n_nonnull").as("n_nonnull"),
        col("p.n_distinct").as("n_distinct"), col("p.min_s").as("min_s"),
        col("p.max_s").as("max_s"))
      .orderBy(col("col_name"))
  }

  /** TPC-H Q18 shape (large-volume orders): aggregate the fact table, filter
    * the groups (HAVING), then join the survivors back to orders and
    * customer. The group-filter runs BEFORE any dimension join, so only the
    * ~10% surviving orderkeys reach the join — the plan shape that matters
    * at 100 TB, where filtering after the join would shuffle the full fact
    * table twice. Both joins stay shuffled equi-joins: the aggregated side
    * shrinks with the predicate but still scales with the fact table, so
    * broadcasting it would be wrong at scale (AQE may still choose to at
    * small SF — that's its call, not the plan's).
    */
  def bigSpenderOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).as("qty"))
      .filter(col("qty") > 180)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("o_totalprice"),
        col("qty").cast("double").as("sum_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(100)
  }

  /** max_by / min_by (argmax) aggregates: per order priority, the order key
    * holding the highest / lowest total price. The ordering value is an
    * exact BIGINT encoding (price at 2 dp × 10^10 + key) so ties are
    * impossible and both engines deterministically pick the same row —
    * max_by on a raw double with duplicate maxima is the classic silent
    * cross-engine mismatch. Single hash aggregate, no shuffle beyond it.
    */
  def argmaxPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val enc = (dec(col("o_totalprice")) * 100).cast("long") * lit(10000000000L) +
      col("o_orderkey")
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        max_by(col("o_orderkey"), enc).as("top_key"),
        min_by(col("o_orderkey"), enc).as("bottom_key"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_totalprice")).as("min_price"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** LATERAL join (correlated top-k per outer row) through the spark.sql
    * surface: each customer's two highest-value orders. Catalyst
    * decorrelates the LIMIT-ed lateral subquery into a rank-based
    * WindowGroupLimit on the inner side (partial group-limit BEFORE the
    * shuffle, final after) and pushes the outer `c_custkey <= 100`
    * predicate through the correlation into the orders scan — the plan a
    * hand-written window query would need two rewrites to reach, and the
    * reason the lateral form scales: no per-outer-row re-execution
    * survives planning.
    */
  def lateralTopOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_lat_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_lat_orders")
    spark.sql("""
      SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
      FROM graft_lat_customer, LATERAL (
        SELECT o_orderkey, o_totalprice FROM graft_lat_orders
        WHERE o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      WHERE c_custkey <= 100
      ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
  }

  /** NOT IN through the SQL surface — null-aware anti join. `NOT IN
    * (subquery)` is NOT an anti join: one NULL in the subquery empties the
    * result (three-valued logic), so Catalyst plans a dedicated
    * null-aware build (single-column NAAJ: broadcast hash anti join with
    * isNullAware=true) instead of the plain LeftAnti that `NOT EXISTS`
    * gets. Both forms are emitted here over the same predicate — customers
    * who never placed an urgent order — and must agree because the key
    * column is non-null; the plan difference is asserted in PlanSpec.
    */
  def notInNullAware(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_nin_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_nin_orders")
    spark.sql("""
      SELECT c_mktsegment,
             count(*) AS n_quiet,
             sum(CASE WHEN not_exists_form THEN 1 ELSE 0 END) AS n_quiet_ne
      FROM (
        SELECT c_mktsegment,
               c_custkey NOT IN (SELECT o_custkey FROM graft_nin_orders
                                 WHERE o_orderpriority = '1-URGENT') AS not_in_form,
               NOT EXISTS (SELECT 1 FROM graft_nin_orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT') AS not_exists_form
        FROM graft_nin_customer)
      WHERE not_in_form
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""")
  }

  def rangeJoinMonthly(spark: SparkSession, dir: String): DataFrame = {
    val origin = to_date(lit("1995-01-01"))
    val months = spark.range(0, 80) // 1995-01 … 2001-08 covers the data
      .select(add_months(origin, col("id").cast("int"))
        .cast("timestamp").as("month"), // timestamp: exact dtype parity with the oracle
        add_months(origin, col("id").cast("int") + 1)
          .cast("timestamp").as("month_end"))
    // bin index = whole months since the range origin; an interval [s, e)
    // covers bins bin(s) .. bin(e − ε) = bin(e) − 1 for bin-aligned e
    val binnedMonths = months.withColumn("bin",
      explode(sequence(
        floor(months_between(col("month"), origin)).cast("int"),
        floor(months_between(col("month_end"), origin)).cast("int") - 1)))
    val orders = Tables.orders(spark, dir)
      .withColumn("bin", floor(months_between(col("o_orderdate"), origin)).cast("int"))
    orders.join(broadcast(binnedMonths),
        orders("bin") === binnedMonths("bin")
          && col("o_orderdate") >= col("month") && col("o_orderdate") < col("month_end"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("month"))
  }

  /** Slow-shipment threshold (days from order to ship) for
    * [[supplierScorecard]] — single-sourced into the twin.
    */
  val SlowLagDays = 90L

  /** Supplier ship-lag scorecard — the operational composite that reuses
    * three established exact patterns on one big-big join: per supplier,
    * item count, mean order→ship lag (exact integer day sums, one final
    * division), EXACT p90 lag (the q254 grouped crossing predicate on
    * (supplier, lag) cells — no per-group percentile buffer), and the slow
    * rate with its 95 % Wilson lower bound (the q209 fixed-expression
    * interval — ranking suppliers by the BOUND, not the raw rate, stops
    * low-volume suppliers from gaming the scorecard either way).
    *
    * Scale shape: lineitem⋈orders is the genuine big-big shuffle join
    * (bucketing both sides as in q177 is the write-once production
    * amortization); everything after is supplier- or cell-sized.
    */
  def supplierScorecard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate"))
    val lags = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("supp"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lag"))
    val base = lags.groupBy(col("supp"))
      .agg(count(lit(1)).as("n_items"), sum(col("lag")).as("sum_lag"),
        sum(when(col("lag") > SlowLagDays, 1L).otherwise(0L)).as("n_slow"))
    val cells = lags.groupBy(col("supp"), col("lag")).agg(count(lit(1)).as("w"))
    val cw = Window.partitionBy(col("supp")).orderBy(col("lag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tw = Window.partitionBy(col("supp"))
    val p90 = cells
      .withColumn("cum", sum(col("w")).over(cw))
      .withColumn("tot", sum(col("w")).over(tw))
      .filter(col("cum") * 100 >= lit(90) * col("tot") &&
        (col("cum") - col("w")) * 100 < lit(90) * col("tot"))
      .select(col("supp"), col("lag").as("p90_lag"))
    val n = col("n_items").cast("double")
    val p = col("n_slow").cast("double") / n
    val denom = lit(1.0) + lit(3.8416) / n
    val center = (p + lit(1.9208) / n) / denom
    val half = lit(1.96) * sqrt(p * (lit(1.0) - p) / n + lit(0.9604) / (n * n)) / denom
    base.join(p90, "supp")
      .select(col("supp"), col("n_items"),
        OracleMath.stableRound(col("sum_lag").cast("double") / n, 6).as("mean_lag_r"),
        col("p90_lag"), col("n_slow"),
        OracleMath.stableRound(p, 6).as("slow_rate_r"),
        OracleMath.stableRound(center - half, 6).as("wilson_lo_r"))
      .orderBy(col("supp"))
  }

  val supplierScorecardOracle: String = {
    val n = "CAST(n_items AS DOUBLE)"
    val p = s"CAST(n_slow AS DOUBLE) / $n"
    val denom = s"(1.0 + 3.8416 / $n)"
    val center = s"(($p) + 1.9208 / $n) / $denom"
    val half = s"1.96 * sqrt(($p) * (1.0 - ($p)) / $n + 0.9604 / ($n * $n)) / $denom"
    s"""WITH lags AS (SELECT l_suppkey AS supp,
       |    CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS lag
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |base AS (SELECT supp, count(*) AS n_items, CAST(sum(lag) AS BIGINT) AS sum_lag,
       |    CAST(sum(CASE WHEN lag > $SlowLagDays THEN 1 ELSE 0 END) AS BIGINT) AS n_slow
       |  FROM lags GROUP BY 1),
       |cells AS (SELECT supp, lag, count(*) AS w FROM lags GROUP BY 1, 2),
       |c AS (SELECT supp, lag, w,
       |    CAST(sum(w) OVER (PARTITION BY supp ORDER BY lag
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(sum(w) OVER (PARTITION BY supp) AS BIGINT) AS tot
       |  FROM cells),
       |p90 AS (SELECT supp, lag AS p90_lag FROM c
       |        WHERE cum * 100 >= 90 * tot AND (cum - w) * 100 < 90 * tot)
       |SELECT b.supp, b.n_items,
       |  ${OracleMath.stableRoundSql(s"CAST(sum_lag AS DOUBLE) / $n", 6)} AS mean_lag_r,
       |  p90.p90_lag, b.n_slow,
       |  ${OracleMath.stableRoundSql(p, 6)} AS slow_rate_r,
       |  ${OracleMath.stableRoundSql(s"($center) - ($half)", 6)} AS wilson_lo_r
       |FROM base b JOIN p90 ON b.supp = p90.supp
       |ORDER BY b.supp""".stripMargin
  }

  /** Zone-map block size for [[zoneMapAudit]] (rows per synthetic block in
    * key order — stands in for a parquet row group).
    */
  val ZoneBlockRows = 4096L

  /** Zone-map (min/max) skipping-effectiveness audit — the storage-layout
    * counterpart of q104's Z-order stats and q204's range planner: per
    * synthetic key-ordered block, the (min, max) of the order date; per
    * quarterly predicate, how many blocks (and rows) min/max pruning could
    * skip, next to the actual matching row count. This is the number that
    * says whether data is laid out well enough for predicate pushdown to
    * bite — on a date-uncorrelated key order the skip rate collapses, which
    * is exactly the motivation for q104's Z-order/clustering.
    *
    * All exact integers: block stats are one hash aggregate over orders
    * (blocks = |orders|∕4096 rows), the audit joins blocks × 4 broadcast
    * quarter rows, and actuals are a second conditional aggregate — the
    * fact table is scanned twice and shuffled block-/quarter-sized only.
    */
  def zoneMapAudit(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val blocks = orders
      .groupBy(expr(s"o_orderkey DIV $ZoneBlockRows").as("blk"))
      .agg(min(col("o_orderdate")).as("mn"), max(col("o_orderdate")).as("mx"),
        count(lit(1)).as("n_rows"))
    val quarters = spark.range(4).select(col("id").cast("long").as("qid"),
      add_months(to_date(lit("1996-01-01")), (col("id") * 3).cast("int"))
        .cast("timestamp").as("lo"),
      add_months(to_date(lit("1996-01-01")), (col("id") * 3 + 3).cast("int"))
        .cast("timestamp").as("hi"))
    val skip = col("mx") < col("lo") || col("mn") >= col("hi")
    val audit = blocks.crossJoin(broadcast(quarters))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(skip, 1L).otherwise(0L)).as("n_skippable"),
        sum(when(skip, col("n_rows")).otherwise(0L)).as("rows_skipped"),
        sum(col("n_rows")).as("rows_total"))
    val actual = orders
      .filter(year(col("o_orderdate")) === 1996)
      .groupBy((quarter(col("o_orderdate")) - 1).cast("long").as("qid"))
      .agg(count(lit(1)).as("n_matching"))
    audit.join(actual, Seq("qid"), "left")
      .select(col("qid"), col("n_blocks"), col("n_skippable"), col("rows_skipped"),
        coalesce(col("n_matching"), lit(0L)).as("n_matching"),
        OracleMath.stableRound(
          col("n_skippable").cast("double") / col("n_blocks").cast("double"), 6)
          .as("skip_pct"))
      .orderBy(col("qid"))
  }

  val zoneMapAuditOracle: String =
    s"""WITH blocks AS (SELECT o_orderkey // $ZoneBlockRows AS blk,
       |    min(o_orderdate) AS mn, max(o_orderdate) AS mx, count(*) AS n_rows
       |  FROM orders GROUP BY 1),
       |quarters AS (SELECT CAST(q AS BIGINT) AS qid,
       |    TIMESTAMP '1996-01-01' + to_months(CAST(q * 3 AS INTEGER)) AS lo,
       |    TIMESTAMP '1996-01-01' + to_months(CAST(q * 3 + 3 AS INTEGER)) AS hi
       |  FROM (SELECT unnest([0, 1, 2, 3]) AS q)),
       |audit AS (SELECT qid, count(*) AS n_blocks,
       |    CAST(sum(CASE WHEN mx < lo OR mn >= hi THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable,
       |    CAST(sum(CASE WHEN mx < lo OR mn >= hi THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped
       |  FROM blocks CROSS JOIN quarters GROUP BY 1),
       |actual AS (SELECT CAST(quarter(o_orderdate) - 1 AS BIGINT) AS qid, count(*) AS n_matching
       |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1)
       |SELECT a.qid, a.n_blocks, a.n_skippable, a.rows_skipped,
       |  CAST(coalesce(x.n_matching, 0) AS BIGINT) AS n_matching,
       |  ${OracleMath.stableRoundSql("CAST(a.n_skippable AS DOUBLE) / CAST(a.n_blocks AS DOUBLE)", 6)} AS skip_pct
       |FROM audit a LEFT JOIN actual x ON a.qid = x.qid
       |ORDER BY a.qid""".stripMargin

  val BasketTopK = 20

  /** "Also-bought" item association — the retail-basket counterpart of
    * q172's word-pair mining: for the top co-purchased part pairs, support,
    * per-part order counts, confidence(a→b) and lift. Pair fanout per order
    * is bounded by the ORDER SIZE (≤ 7 lineitems in this schema — C(7,2)
    * pairs max), never parts²; the per-part support table joins AFTER the
    * top-K cut, against 20 rows broadcast, so the dimension-sized supports
    * never broadcast whole. Counts are exact integers; confidence and lift
    * are per-row divisions of exact inputs in one fixed expression each.
    */
  def alsoBought(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part")).distinct()
    val nOrders = items.select(col("okey")).distinct()
      .agg(count(lit(1)).as("n_orders_total"))
    val pairs = items.select(col("okey"), col("part").as("part_a"))
      .join(items.select(col("okey").as("okey_b"), col("part").as("part_b")),
        col("okey") === col("okey_b") && col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("pair_orders"))
      .orderBy(col("pair_orders").desc, col("part_a"), col("part_b"))
      .limit(BasketTopK)
    val sup = items.groupBy(col("part")).agg(count(lit(1)).as("n"))
    pairs
      .join(sup.select(col("part").as("part_a"), col("n").as("orders_a")), "part_a")
      .join(sup.select(col("part").as("part_b"), col("n").as("orders_b")), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("pair_orders"),
        col("orders_a"), col("orders_b"),
        OracleMath.stableRound(
          col("pair_orders").cast("double") / col("orders_a").cast("double"), 6)
          .as("confidence_ab"),
        OracleMath.stableRound(
          col("pair_orders").cast("double") * col("n_orders_total").cast("double") /
            (col("orders_a").cast("double") * col("orders_b").cast("double")), 6).as("lift"))
      .orderBy(col("pair_orders").desc, col("part_a"), col("part_b"))
  }

  val alsoBoughtOracle: String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
       |tot AS (SELECT count(DISTINCT okey) AS n_orders_total FROM items),
       |pairs AS (SELECT a.part AS part_a, b.part AS part_b, count(*) AS pair_orders
       |          FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
       |          GROUP BY 1, 2
       |          ORDER BY pair_orders DESC, part_a, part_b LIMIT $BasketTopK),
       |sup AS (SELECT part, count(*) AS n FROM items GROUP BY 1)
       |SELECT p.part_a, p.part_b, CAST(p.pair_orders AS BIGINT) AS pair_orders,
       |  CAST(sa.n AS BIGINT) AS orders_a, CAST(sb.n AS BIGINT) AS orders_b,
       |  ${OracleMath.stableRoundSql("CAST(p.pair_orders AS DOUBLE) / CAST(sa.n AS DOUBLE)", 6)} AS confidence_ab,
       |  ${OracleMath.stableRoundSql(
          "CAST(p.pair_orders AS DOUBLE) * CAST(t.n_orders_total AS DOUBLE) / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE))", 6)} AS lift
       |FROM pairs p JOIN sup sa ON p.part_a = sa.part
       |             JOIN sup sb ON p.part_b = sb.part
       |             CROSS JOIN tot t
       |ORDER BY pair_orders DESC, part_a, part_b""".stripMargin

  /** Month attribution by the custom broadcast MERGE interval join
    * ([[graft.plans.IntervalJoin]]) — q64's semantics (same oracle SQL
    * verbatim) through the second whole-operator extension instead of the
    * bin-explode encoding: the orders side is only LOCALLY sorted by date
    * (no exchange, no bin column, no row amplification), the 80-row month
    * interval table is broadcast once, and a per-partition sweep holds the
    * single active month (dense abutting intervals ⇒ overlap degree 1).
    * Plan-asserted in PlanSpec: an IntervalJoin node, no Generate/explode,
    * and no exchange below the join.
    */
  def intervalJoinMonthly(spark: SparkSession, dir: String): DataFrame = {
    val origin = to_date(lit("1995-01-01"))
    // timestamp_ntz on BOTH sides: o_orderdate reads as NTZ and the operator
    // requires one shared time type (it compares raw values with a single
    // ordering — an NTZ/LTZ mix would only be right in a UTC session)
    val months = spark.range(0, 80)
      .select(add_months(origin, col("id").cast("int"))
        .cast("timestamp_ntz").as("month"),
        add_months(origin, col("id").cast("int") + 1)
          .cast("timestamp_ntz").as("month_end"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"), col("o_totalprice"))
    graft.plans.IntervalJoin.pointInInterval(
        orders, months, orders("o_orderdate"), months("month"), months("month_end"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("month"))
  }

  /** q64's month attribution a THIRD time, through the RANGE-PARTITIONED
    * keyless interval join ([[graft.plans.IntervalJoin.joinRangePartitioned]])
    * — same oracle SQL verbatim as q64/q239, so all three physical shapes
    * (bin-explode, broadcast sweep, range-partitioned sweep) are pinned to
    * one result. This is the shape that survives when the keyless interval
    * side outgrows the broadcast ceiling: both sides exchange ONCE on the
    * sampled equi-depth date bucket, nothing broadcasts (plan-asserted), and
    * each bucket runs the same merge sweep.
    */
  def rangeIntervalMonthly(spark: SparkSession, dir: String): DataFrame = {
    val origin = to_date(lit("1995-01-01"))
    val months = spark.range(0, 80)
      .select(add_months(origin, col("id").cast("int"))
        .cast("timestamp_ntz").as("month"),
        add_months(origin, col("id").cast("int") + 1)
          .cast("timestamp_ntz").as("month_end"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"), col("o_totalprice"))
    graft.plans.IntervalJoin.joinRangePartitioned(
        orders, months, orders("o_orderdate"), months("month"), months("month_end"),
        "inner", numBuckets = 32)
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("month"))
  }

  /** q318 — q239's month attribution with a point-side predicate applied
    * ABOVE the custom interval-join node on purpose: Catalyst cannot push
    * through a node it doesn't know, so
    * [[graft.plans.IntervalJoinFilterPushdown]] is what moves the priority
    * filter below the join and into the parquet scan's PushedFilters
    * (plan-asserted in PlanSpec) — at 100 TB the difference between
    * sweeping one priority class and sweeping every order.
    */
  def intervalJoinFiltered(spark: SparkSession, dir: String): DataFrame = {
    val origin = to_date(lit("1995-01-01"))
    val months = spark.range(0, 80)
      .select(add_months(origin, col("id").cast("int"))
        .cast("timestamp_ntz").as("month"),
        add_months(origin, col("id").cast("int") + 1)
          .cast("timestamp_ntz").as("month_end"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
        col("o_totalprice"), col("o_orderpriority"))
    graft.plans.IntervalJoin.pointInInterval(
        orders, months, orders("o_orderdate"), months("month"), months("month_end"))
      .filter(col("o_orderpriority") === "1-URGENT") // above the node: the rule pushes it
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("month"))
  }

  val intervalJoinFilteredOracle: String =
    """SELECT m AS month, count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01', INTERVAL 1 MONTH) g(m)
      |JOIN orders ON o_orderdate >= m AND o_orderdate < m + INTERVAL 1 MONTH
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Outage-window day span (q310): windows per supplier start at a
    * deterministic arithmetic offset and run [[OutageDays]] days.
    */
  val OutageSpanDays = 2400
  val OutageDays = 30

  /** Supplier outage-window attribution (q310) — the range-partitioned
    * keyless interval join's REAL consumer shape: the interval side is one
    * window per supplier (FACT-scaled — at a real deployment this is
    * millions of maintenance/outage windows, far past any broadcast
    * ceiling), there is NO shared key with the order stream, and every order
    * inside a window attributes to it. Windows are derived in-query by
    * deterministic arithmetic (`s_suppkey·997 mod 2400` days after epoch,
    * [[OutageDays]] long) so both engines construct identical intervals.
    * Windows overlap each other freely (≈ 12 active at any instant at
    * sf0.1), exercising the sweep's multi-active emission.
    *
    * Scale shape: one quantile pass on the point side, one hash exchange
    * per side on the equi-depth date bucket, interval replication bounded by
    * 30 days ∕ (span ∕ buckets) ≈ 1–2 copies — never a broadcast, never a
    * bin-per-day explode (the q64 encoding would make 30 copies per window).
    */
  def supplierOutageAttribution(spark: SparkSession, dir: String): DataFrame = {
    val origin = to_date(lit("1992-01-01"))
    val windows = Tables.supplier(spark, dir)
      .select(col("s_suppkey"),
        date_add(origin, (col("s_suppkey") * lit(997) % lit(OutageSpanDays)).cast("int"))
          .cast("timestamp_ntz").as("w_start"))
      .withColumn("w_end", col("w_start") + expr(s"INTERVAL $OutageDays DAYS"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"), col("o_totalprice"))
    graft.plans.IntervalJoin.joinRangePartitioned(
        orders, windows, orders("o_orderdate"), windows("w_start"), windows("w_end"),
        "inner", numBuckets = 32)
      .groupBy(col("s_suppkey"), col("w_start"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** q335 — the HOT-WINDOW outage attribution: the range-partitioned
    * keyless mode's measured-split arm (the r11 verdict's missing half —
    * [[graft.plans.IntervalJoin.chooseSaltFactor]] fixed the keyed mode;
    * this is the same straggler discipline for the keyless one). The order
    * stream is warped so 90 % of all orders land on ONE instant
    * (1995-06-15 — a flash-sale/backfill shape): equi-depth range buckets
    * cannot split a point MASS by value, so ~29 of the 31 sampled quantile
    * boundaries collapse onto it and the unsalted plan would sweep 90 % of
    * the corpus in a single task at any scale. The core detects exactly
    * that — duplicate raw boundaries — and fans the hot bucket out by a
    * whole-row hash while cold buckets stay unsalted and unreplicated
    * (plan-pinned: `__rb_s` + the measured salt literal; q310's pinned
    * plan is the uniform-corpus DISARM proof, byte-unchanged). Oracle: the
    * same non-equi join over the warped dates — salting is placement only.
    */
  def supplierOutageHotWindow(spark: SparkSession, dir: String): DataFrame = {
    val origin = to_date(lit("1992-01-01"))
    val windows = Tables.supplier(spark, dir)
      .select(col("s_suppkey"),
        date_add(origin, (col("s_suppkey") * lit(997) % lit(OutageSpanDays)).cast("int"))
          .cast("timestamp_ntz").as("w_start"))
      .withColumn("w_end", col("w_start") + expr(s"INTERVAL $OutageDays DAYS"))
    val orders = Tables.orders(spark, dir)
      .select(when(col("o_orderkey") % 10 =!= 0,
          lit("1995-06-15 00:00:00").cast("timestamp_ntz"))
          .otherwise(col("o_orderdate").cast("timestamp_ntz")).as("o_orderdate"),
        col("o_totalprice"))
    graft.plans.IntervalJoin.joinRangePartitioned(
        orders, windows, orders("o_orderdate"), windows("w_start"), windows("w_end"),
        "inner", numBuckets = 32)
      .groupBy(col("s_suppkey"), col("w_start"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("s_suppkey"))
  }

  val supplierOutageHotWindowOracle: String =
    s"""WITH o AS (
       |  SELECT CASE WHEN o_orderkey % 10 <> 0 THEN TIMESTAMP '1995-06-15 00:00:00'
       |              ELSE CAST(o_orderdate AS TIMESTAMP) END AS o_orderdate,
       |         o_totalprice
       |  FROM orders),
       |w AS (
       |  SELECT s_suppkey,
       |    CAST(DATE '1992-01-01' + ((s_suppkey * 997) % $OutageSpanDays) * INTERVAL 1 DAY
       |         AS TIMESTAMP) AS w_start
       |  FROM supplier),
       |w2 AS (SELECT s_suppkey, w_start,
       |              w_start + INTERVAL $OutageDays DAY AS w_end FROM w)
       |SELECT s_suppkey, w_start, count(*) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       |FROM w2 JOIN o ON o_orderdate >= w_start AND o_orderdate < w_end
       |GROUP BY 1, 2 ORDER BY s_suppkey""".stripMargin

  /** q314 — the same outage attribution as RIGHT OUTER: every window
    * surfaces, including the ones no order fell into (n_orders = 0,
    * revenue NULL) — the coverage-audit shape (which maintenance windows
    * were quiet?) that completes the keyless range mode's join matrix.
    * Unmatchedness is global, not per-bucket, so the mode recovers it with
    * one DISTINCT + anti-join over the interval side after the bucketed
    * sweep — still no broadcast anywhere (plan-asserted).
    */
  def supplierOutageCoverage(spark: SparkSession, dir: String): DataFrame = {
    val origin = to_date(lit("1992-01-01"))
    val windows = Tables.supplier(spark, dir)
      .select(col("s_suppkey"),
        date_add(origin, (col("s_suppkey") * lit(997) % lit(OutageSpanDays)).cast("int"))
          .cast("timestamp_ntz").as("w_start"))
      .withColumn("w_end", col("w_start") + expr(s"INTERVAL $OutageDays DAYS"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"), col("o_totalprice"))
    graft.plans.IntervalJoin.joinRangePartitioned(
        orders, windows, orders("o_orderdate"), windows("w_start"), windows("w_end"),
        "right", numBuckets = 32)
      .groupBy(col("s_suppkey"), col("w_start"))
      .agg(count(col("o_orderdate")).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("s_suppkey"))
  }

  val supplierOutageCoverageOracle: String =
    s"""WITH w AS (
       |  SELECT s_suppkey,
       |    CAST(DATE '1992-01-01' + ((s_suppkey * 997) % $OutageSpanDays) * INTERVAL 1 DAY
       |         AS TIMESTAMP) AS w_start
       |  FROM supplier),
       |w2 AS (SELECT s_suppkey, w_start,
       |              w_start + INTERVAL $OutageDays DAY AS w_end FROM w)
       |SELECT s_suppkey, w_start, count(o_orderdate) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       |FROM w2 LEFT JOIN orders ON o_orderdate >= w_start AND o_orderdate < w_end
       |GROUP BY 1, 2 ORDER BY s_suppkey""".stripMargin

  val supplierOutageOracle: String =
    s"""WITH w AS (
       |  SELECT s_suppkey,
       |    CAST(DATE '1992-01-01' + ((s_suppkey * 997) % $OutageSpanDays) * INTERVAL 1 DAY
       |         AS TIMESTAMP) AS w_start
       |  FROM supplier),
       |w2 AS (SELECT s_suppkey, w_start,
       |              w_start + INTERVAL $OutageDays DAY AS w_end FROM w)
       |SELECT s_suppkey, w_start, count(*) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       |FROM w2 JOIN orders ON o_orderdate >= w_start AND o_orderdate < w_end
       |GROUP BY 1, 2 ORDER BY s_suppkey""".stripMargin

  /** SCD2 regime attribution by the KEYED merge interval join — each order
    * joins its OWN customer's priority validity interval (q113's SCD2
    * history; the open current version's end coalesced to a far-future
    * sentinel so every order lands in exactly one regime), then revenue
    * rolls up per regime priority. The consumer the keyed mode exists for:
    * a per-entity validity-interval table is FACT-sized (one row per
    * priority change per customer) — far beyond any broadcast ceiling — so
    * both sides hash-cluster on the customer key (SortMergeJoin's exact
    * contract: two key shuffles, two local sorts, then a single forward
    * merge pass whose per-key state is that customer's version count).
    * Zero row amplification, no bin explode, no broadcast.
    *
    * Self-checking identity: every order matches exactly one interval
    * (intervals partition each customer's timeline from their first order),
    * so `sum(n_orders)` equals the order count — a wrong sweep boundary or
    * a dropped/duplicated group breaks the hash.
    */
  def scd2IntervalAttribution(spark: SparkSession, dir: String): DataFrame = {
    val hist = scd2HistoryBase(spark, dir)
      .select(col("o_custkey").as("h_custkey"), col("priority"),
        col("valid_from").cast("timestamp_ntz").as("vf"),
        coalesce(col("valid_to").cast("timestamp_ntz"),
          lit(Scd2OpenEnd).cast("timestamp_ntz")).as("vt"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp_ntz").as("t"),
        col("o_totalprice"))
    graft.plans.IntervalJoin.join(orders, hist,
        Seq(orders("o_custkey")), Seq(hist("h_custkey")),
        orders("t"), hist("vf"), hist("vt"), "inner")
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("priority"))
  }

  /** q323 — q261's SCD2 attribution through the ADAPTIVE salted interval
    * join ([[graft.plans.IntervalJoin.joinSalted]] in `AutoSalts` mode):
    * the chooser profiles orders-per-customer first and salts only if some
    * customer's order count approaches a task's share. On TPC-H's uniform
    * custkey the measured straggler ratio is ≈ 0.1 at every SF (the ratio
    * is scale-free), so the chooser correctly DECLINES to salt and the plan
    * degrades to the plain keyed merge — no interval replication, no
    * `__salt` exchange; the r10 fixed ×8 paid ~8× history replication on
    * data with no straggler. q331 is the armed case: a constructed hot-key
    * corpus where the same chooser measures ratio ≈ 29 and salts. Oracle
    * stays q261's VERBATIM — the decision is placement-only either way.
    */
  def scd2IntervalAttributionSalted(spark: SparkSession, dir: String): DataFrame = {
    val hist = scd2HistoryBase(spark, dir)
      .select(col("o_custkey").as("h_custkey"), col("priority"),
        col("valid_from").cast("timestamp_ntz").as("vf"),
        coalesce(col("valid_to").cast("timestamp_ntz"),
          lit(Scd2OpenEnd).cast("timestamp_ntz")).as("vt"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("t"), col("o_totalprice"))
    graft.plans.IntervalJoin.joinSalted(orders, hist,
        Seq(orders("o_custkey")), Seq(hist("h_custkey")),
        orders("t"), hist("vf"), hist("vt"), "inner",
        saltBy = orders("o_orderkey"))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("priority"))
  }

  /** q328 — q265's FULL-outer SCD2 coverage audit through the salted path
    * in ADAPTIVE mode (see [[scd2IntervalAttributionSalted]]): the chooser
    * measures the high-value-order key histogram, finds no straggler, and
    * runs the plain keyed full join — the correct decision on this corpus.
    * The armed full-outer lane (recovery pass under real salting) is q331,
    * whose constructed hot key forces the fan-out. Oracle = q265's
    * VERBATIM; all three buckets (BOTH / ORDER_ONLY / REGIME_ONLY) must
    * survive whichever physical path the measurement picks.
    */
  def scd2CoverageAuditSalted(spark: SparkSession, dir: String): DataFrame = {
    val hist = scd2HistoryBase(spark, dir)
      .filter(col("valid_to").isNotNull)
      .select(col("o_custkey").as("h_custkey"), col("priority"),
        col("valid_from").cast("timestamp_ntz").as("vf"),
        col("valid_to").cast("timestamp_ntz").as("vt"))
    val pts = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > lit(Scd2HighValue))
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("t"), col("o_totalprice"))
    graft.plans.IntervalJoin.joinSalted(pts, hist,
        Seq(pts("o_custkey")), Seq(hist("h_custkey")),
        pts("t"), hist("vf"), hist("vt"), "full",
        saltBy = pts("o_orderkey"))
      .select(
        when(col("o_orderkey").isNotNull && col("priority").isNotNull, lit("BOTH"))
          .when(col("o_orderkey").isNotNull, lit("ORDER_ONLY"))
          .otherwise(lit("REGIME_ONLY")).as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(dec(col("o_totalprice"))).cast("double"), lit(0.0)).as("revenue"))
      .orderBy(col("bucket"))
  }

  /** q331 — the adaptive salt chooser's ARMED case: a constructed hot-key
    * corpus (every order whose customer key is not a multiple of 10
    * collapses onto synthetic entity 0 — one key carrying ~90 % of all
    * points, the "mega-tenant" shape that serializes a keyed merge) FULL
    * interval-joined against a deterministic per-key regime table. The
    * chooser measures straggler ratio ≈ 0.9 × shuffle-partitions ≈ 29 (the
    * ratio is a row FRACTION, so the decision is identical at every SF) and
    * fans the hot key across that many salts; unmatched intervals are
    * recovered through the marker + distinct/anti-join pass UNDER salting —
    * the armed full-outer lane q323/q328 no longer exercise now that the
    * measurement (correctly) disarms them on uniform data.
    *
    * The regime table is derived, not loaded: for every distinct entity key
    * except those ≡ 50 (mod 100) — whose orders become `ORDER_ONLY` — three
    * regimes: EARLY/LATE partition the order-date domain (the driver's
    * corpus spans 1995-2001; every matched point lands in exactly one),
    * PRE predates all orders (structurally `REGIME_ONLY`, proving
    * right-side recovery survives the fan-out).
    * Oracle: DuckDB replays the derivation and the full non-equi join
    * directly.
    */
  def adaptiveSaltedHotKeyAudit(spark: SparkSession, dir: String): DataFrame = {
    def hotKey(c: Column): Column =
      when(c % 10 === 0, c.cast("long")).otherwise(lit(0L))
    val pts = Tables.orders(spark, dir).select(
      hotKey(col("o_custkey")).as("k"), col("o_orderkey"),
      col("o_orderdate").as("t"), col("o_totalprice"))
    val regimes = array(
      struct(lit("EARLY").as("regime"), lit("1992-01-01").as("vf"), lit("1997-01-01").as("vt")),
      struct(lit("LATE").as("regime"), lit("1997-01-01").as("vf"), lit("2002-01-01").as("vt")),
      struct(lit("PRE").as("regime"), lit("1980-01-01").as("vf"), lit("1990-01-01").as("vt")))
    val ivals = Tables.customer(spark, dir)
      .select(hotKey(col("c_custkey")).as("ik")).distinct()
      .filter(col("ik") % 100 =!= 50)
      .select(col("ik"), explode(regimes).as("r"))
      .select(col("ik"), col("r.regime").as("regime"),
        col("r.vf").cast("timestamp_ntz").as("vf"),
        col("r.vt").cast("timestamp_ntz").as("vt"))
    graft.plans.IntervalJoin.joinSalted(pts, ivals,
        Seq(pts("k")), Seq(ivals("ik")),
        pts("t"), ivals("vf"), ivals("vt"), "full",
        saltBy = pts("o_orderkey"))
      .select(
        when(col("o_orderkey").isNotNull && col("regime").isNotNull, lit("BOTH"))
          .when(col("o_orderkey").isNotNull, lit("ORDER_ONLY"))
          .otherwise(lit("REGIME_ONLY")).as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(dec(col("o_totalprice"))).cast("double"), lit(0.0)).as("revenue"))
      .orderBy(col("bucket"))
  }

  val adaptiveSaltedHotKeyAuditOracle: String =
    """WITH pts AS (
      |  SELECT CASE WHEN o_custkey % 10 = 0 THEN o_custkey ELSE 0 END AS k,
      |         o_orderkey, o_orderdate AS t, o_totalprice
      |  FROM orders),
      |ivals AS (
      |  SELECT ik, regime, vf, vt
      |  FROM (SELECT DISTINCT CASE WHEN c_custkey % 10 = 0 THEN c_custkey ELSE 0 END AS ik
      |        FROM customer) k,
      |       (VALUES ('EARLY', DATE '1992-01-01', DATE '1997-01-01'),
      |               ('LATE',  DATE '1997-01-01', DATE '2002-01-01'),
      |               ('PRE',   DATE '1980-01-01', DATE '1990-01-01')) AS r(regime, vf, vt)
      |  WHERE ik % 100 <> 50),
      |j AS (
      |  SELECT p.o_orderkey, p.o_totalprice, i.regime
      |  FROM pts p FULL OUTER JOIN ivals i
      |    ON p.k = i.ik AND i.vf <= p.t AND p.t < i.vt)
      |SELECT CASE WHEN o_orderkey IS NOT NULL AND regime IS NOT NULL THEN 'BOTH'
      |            WHEN o_orderkey IS NOT NULL THEN 'ORDER_ONLY'
      |            ELSE 'REGIME_ONLY' END AS bucket,
      |  count(*) AS n,
      |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS revenue
      |FROM j GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Far-future open-interval sentinel shared with the q261/q262 twins. */
  val Scd2OpenEnd = "9999-01-01"

  private def scd2HistSql(validTo: String): String =
    s"""ordered AS (
       |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
       |         lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
       |  FROM orders),
       |changes AS (SELECT * FROM ordered WHERE prev IS NULL OR prev <> o_orderpriority),
       |hist AS (SELECT o_custkey AS h_custkey, o_orderpriority AS priority,
       |           o_orderdate AS vf,
       |           $validTo AS vt
       |         FROM changes)""".stripMargin

  val scd2IntervalAttributionOracle: String =
    s"""WITH ${scd2HistSql(
        s"coalesce(lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), TIMESTAMP '$Scd2OpenEnd 00:00:00')")}
       |SELECT priority, count(*) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       |FROM orders o JOIN hist h
       |  ON o.o_custkey = h.h_custkey AND h.vf <= o.o_orderdate AND o.o_orderdate < h.vt
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** LEFT-OUTER variant of [[scd2IntervalAttribution]] against the CLOSED
    * validity intervals only: orders placed under a customer's current
    * (open) regime match no closed interval and surface through the outer
    * mode as the `CURRENT` bucket — the standard "historical vs live"
    * revenue split, and the query that pins the operator's outer semantics
    * (null-padded right side, one row per unmatched point) against a SQL
    * LEFT JOIN twin.
    */
  def scd2RegimeOuter(spark: SparkSession, dir: String): DataFrame = {
    val hist = scd2HistoryBase(spark, dir)
      .filter(col("valid_to").isNotNull)
      .select(col("o_custkey").as("h_custkey"), col("priority"),
        col("valid_from").cast("timestamp_ntz").as("vf"),
        col("valid_to").cast("timestamp_ntz").as("vt"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp_ntz").as("t"),
        col("o_totalprice"))
    graft.plans.IntervalJoin.join(orders, hist,
        Seq(orders("o_custkey")), Seq(hist("h_custkey")),
        orders("t"), hist("vf"), hist("vt"), "left")
      .groupBy(coalesce(col("priority"), lit("CURRENT")).as("regime"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("regime"))
  }

  val scd2RegimeOuterOracle: String =
    s"""WITH ${scd2HistSql(
        "lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)")}
       |SELECT coalesce(priority, 'CURRENT') AS regime, count(*) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       |FROM orders o LEFT JOIN (SELECT * FROM hist WHERE vt IS NOT NULL) h
       |  ON o.o_custkey = h.h_custkey AND h.vf <= o.o_orderdate AND o.o_orderdate < h.vt
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** FULL-outer SCD2 coverage audit — the query that completes the interval
    * join's operator matrix (inner/left landed with q261/q262; right is
    * full's degenerate half). High-value orders (> [[Scd2HighValue]]) FULL
    * interval-join the CLOSED validity regimes, then bucket:
    *
    *  - `BOTH`        — a high-value order inside a closed regime;
    *  - `ORDER_ONLY`  — a high-value order under the customer's live (open)
    *                    regime: unmatched LEFT (the q262 shape);
    *  - `REGIME_ONLY` — a closed regime in which the customer placed no
    *                    high-value order: unmatched RIGHT, the new mode.
    *
    * The point-side filter is what makes the audit non-trivial: unfiltered,
    * every closed regime contains the order that opened it (SCD2 intervals
    * start at change orders), so `REGIME_ONLY` would be structurally empty.
    * The three buckets exercise all three unmatched-right code paths:
    * customers whose orders are all low-value stream their regimes through
    * the right-only drain (no buffering), mixed customers flush per-group
    * unmatched intervals, and live-regime orders outer-emit on the left.
    * Scale shape: identical to q261 — both sides hash-cluster on custkey
    * once, per-key state is the customer's version count, plus the final
    * 3-row aggregate. The DuckDB twin is a plain FULL JOIN.
    */
  val Scd2HighValue = 300000.0

  def scd2CoverageAudit(spark: SparkSession, dir: String): DataFrame = {
    val hist = scd2HistoryBase(spark, dir)
      .filter(col("valid_to").isNotNull)
      .select(col("o_custkey").as("h_custkey"), col("priority"),
        col("valid_from").cast("timestamp_ntz").as("vf"),
        col("valid_to").cast("timestamp_ntz").as("vt"))
    val pts = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > lit(Scd2HighValue))
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("t"), col("o_totalprice"))
    graft.plans.IntervalJoin.join(pts, hist,
        Seq(pts("o_custkey")), Seq(hist("h_custkey")),
        pts("t"), hist("vf"), hist("vt"), "full")
      .select(
        when(col("o_orderkey").isNotNull && col("priority").isNotNull, lit("BOTH"))
          .when(col("o_orderkey").isNotNull, lit("ORDER_ONLY"))
          .otherwise(lit("REGIME_ONLY")).as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(dec(col("o_totalprice"))).cast("double"), lit(0.0)).as("revenue"))
      .orderBy(col("bucket"))
  }

  val scd2CoverageAuditOracle: String =
    s"""WITH ${scd2HistSql(
        "lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)")},
       |pts AS (SELECT o_custkey, o_orderkey, o_orderdate AS t, o_totalprice
       |        FROM orders WHERE o_totalprice > $Scd2HighValue)
       |SELECT CASE WHEN p.o_orderkey IS NOT NULL AND h.priority IS NOT NULL THEN 'BOTH'
       |            WHEN p.o_orderkey IS NOT NULL THEN 'ORDER_ONLY'
       |            ELSE 'REGIME_ONLY' END AS bucket,
       |  count(*) AS n,
       |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS revenue
       |FROM pts p FULL JOIN (SELECT * FROM hist WHERE vt IS NOT NULL) h
       |  ON p.o_custkey = h.h_custkey AND h.vf <= p.t AND p.t < h.vt
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Co-located (bucketed) fact⋈fact join — the zero-shuffle answer to the
    * biggest cost in any 100 TB star join: both sides are written ONCE as
    * bucketed tables (8 buckets on the join key, sorted within buckets), and
    * every subsequent join on that key needs NO Exchange on either side —
    * Spark's bucketed scan hands the sort-merge join pre-partitioned,
    * pre-sorted inputs. At warehouse scale this turns the nightly
    * lineitem⋈orders from two full-table shuffles into a file-local merge;
    * the write-side cost is paid once and amortized over every downstream
    * join on the same key (the same trade the streaming stagers make).
    *
    * Each bucketed table is a stored artifact of [[Staging.ensure]] (rebuilt
    * when its source table changes) and registered in the catalog under its
    * stored name; a catalog that lacks the table or names another location
    * (a fresh JVM, or a rebuild elsewhere) re-registers it from the files.
    *
    * The join runs on a cloned session with auto-broadcast disabled so the
    * plan is the genuine big-big sort-merge shape at every SF (at test SFs
    * the optimizer would otherwise broadcast the small side and hide the
    * bucketing evidence). PlanSpec-style assertion lives in GraphCdcSpec:
    * exactly one hash Exchange in the whole plan (the final aggregate) —
    * the join itself moves nothing.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession() // shares the persistent catalog + context
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def bucketed(table: String, src: => DataFrame, key: String, value: String): String = {
      val name = Staging.storedName(s"bkt_$table", dir)
      def rows = src.select(col(key), col(value))
      val data = Staging.ensure(s, s"bkt_$table", dir, Seq(table), Seq("data")) { base =>
        rows.repartition(8, col(key)) // one file per bucket: scan stays sorted
          .write.format("parquet")
          .bucketBy(8, key).sortBy(key)
          .option("path", base + "/data")
          .mode("overwrite")
          .saveAsTable(name)
      } + "/data"
      val registeredAt = org.apache.spark.sql.graftbridge.GraftSqlBridge.tableLocation(s, name)
        .map(u => new java.io.File(u).getAbsolutePath)
      if (!registeredAt.contains(new java.io.File(data).getAbsolutePath)) {
        s.sql(s"DROP TABLE IF EXISTS $name")
        s.sql(s"""CREATE TABLE $name (${rows.schema.toDDL}) USING parquet
          |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
          |LOCATION '$data'""".stripMargin)
      }
      name
    }
    val tO = bucketed("orders", Tables.orders(s, dir), "o_orderkey", "o_orderstatus")
    val tL = bucketed("lineitem", Tables.lineitem(s, dir), "l_orderkey", "l_extendedprice")
    s.table(tL).join(s.table(tO), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  val bucketedJoinOracle: String =
    """SELECT o_orderstatus, count(*) AS n_items,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Snapshot changelog derivation (CDC the other way around from q96): given
    * two full snapshots of a keyed table, emit the insert/update/delete
    * changelog that transforms old into new, with a per-row list of changed
    * columns. q96 APPLIES a changelog (MERGE); this DERIVES one — the primitive
    * behind incremental downstream refresh when the upstream only ever ships
    * full dumps (the reference's daily full-CSV drops are exactly that shape:
    * `dag/vacancy_pipline_gpt_rerty.py:102-125` re-reads whole files each run).
    *
    * Snapshots are derived deterministically from `orders` so the oracle can
    * replay them: OLD = keys not ≡0 (mod 97) (so ≡0 keys appear as inserts);
    * NEW drops keys ≡0 (mod 101) (deletes) and mutates keys ≡0 (mod 100)
    * (status → 'X', price × 1.1 — same mutation family as q96).
    *
    * Scale shape: ONE full-outer sort-merge join co-partitioned on the key —
    * both sides shuffle once on `o_orderkey`; the op classification and the
    * column-diff mask are row-local expressions, and unchanged rows (the vast
    * majority of a 100 TB snapshot pair) are filtered before anything else
    * moves. With both snapshots bucketed on the key at write time the shuffle
    * disappears entirely. The ×1.1 price mutation is one IEEE double multiply —
    * bit-identical in both engines, so `<>` on the doubles is exact.
    */
  /** The two synthetic snapshots q167/q184 operate on (OLD drops ≡0 mod 97;
    * NEW drops ≡0 mod 101 and mutates ≡0 mod 100).
    */
  private def snapshotOld(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .filter(col("o_orderkey") % 97 =!= 0)

  private def snapshotNew(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .filter(col("o_orderkey") % 101 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 100 === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 100 === 0, col("o_totalprice") * lit(1.1))
          .otherwise(col("o_totalprice")).as("o_totalprice"))

  def snapshotChangelog(spark: SparkSession, dir: String): DataFrame = {
    val oldS = snapshotOld(spark, dir)
    val newS = snapshotNew(spark, dir)
    val j = oldS.as("a").join(newS.as("b"),
      col("a.o_orderkey") === col("b.o_orderkey"), "full_outer")
    val statusChanged = col("a.o_orderstatus") =!= col("b.o_orderstatus")
    val priceChanged = col("a.o_totalprice") =!= col("b.o_totalprice")
    j.filter(col("a.o_orderkey").isNull || col("b.o_orderkey").isNull
        || statusChanged || priceChanged)
      .select(
        coalesce(col("a.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
        when(col("a.o_orderkey").isNull, lit("insert"))
          .when(col("b.o_orderkey").isNull, lit("delete"))
          .otherwise(lit("update")).as("op"),
        when(col("a.o_orderkey").isNull || col("b.o_orderkey").isNull, lit(""))
          // concat_ws skips nulls in both engines: the mask lists exactly the
          // changed columns in fixed declaration order
          .otherwise(concat_ws(",",
            when(statusChanged, lit("o_orderstatus")),
            when(priceChanged, lit("o_totalprice")))).as("changed_cols"),
        coalesce(col("a.o_orderstatus"), lit("")).as("old_status"),
        coalesce(col("b.o_orderstatus"), lit("")).as("new_status"),
        coalesce(col("a.o_totalprice"), lit(-1.0)).as("old_price"),
        coalesce(col("b.o_totalprice"), lit(-1.0)).as("new_price"))
      .orderBy(col("o_orderkey"))
  }

  /** CDC round-trip: APPLY the q167-derived changelog to the OLD snapshot
    * and prove the reconstruction equals the NEW snapshot — the end-to-end
    * contract a derive→ship→apply pipeline rests on (q167 derives, q96
    * applies; this closes the loop). Apply is the standard compaction:
    * anti-join OLD against every changed key, union the insert/update rows
    * with their new values (deleted keys are in the changed-key set and not
    * re-added). Evidence is per-status (n, Σprice-as-DECIMAL) from BOTH the
    * reconstruction and the direct NEW snapshot — pairwise equal on every
    * row, the q138/q175 merged-vs-direct shape. One key-partitioned
    * anti-join + union at any scale; nothing is compared row-by-row.
    */
  def changelogRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val oldS = snapshotOld(spark, dir)
    val log = snapshotChangelog(spark, dir)
    val upserts = log.filter(col("op") =!= "delete")
      .select(col("o_orderkey"), col("new_status").as("o_orderstatus"),
        col("new_price").as("o_totalprice"))
    val reconstructed = oldS
      .join(log.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
      .unionByName(upserts)
    def agg(df: DataFrame, nName: String, sName: String): DataFrame = df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as(nName),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double").as(sName))
    agg(reconstructed, "n_applied", "sum_applied")
      .join(agg(snapshotNew(spark, dir), "n_direct", "sum_direct"), "o_orderstatus")
      .select(col("o_orderstatus"), col("n_applied"), col("n_direct"),
        col("sum_applied"), col("sum_direct"))
      .orderBy(col("o_orderstatus"))
  }

  val changelogRoundTripOracle: String =
    """WITH b AS (SELECT o_orderkey,
      |        CASE WHEN o_orderkey % 100 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |        CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
      |      FROM orders WHERE o_orderkey % 101 <> 0)
      |SELECT o_orderstatus, count(*) AS n_applied, count(*) AS n_direct,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_applied,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_direct
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  val snapshotChangelogOracle: String =
    """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      |a AS (SELECT * FROM base WHERE o_orderkey % 97 <> 0),
      |b AS (SELECT o_orderkey,
      |        CASE WHEN o_orderkey % 100 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |        CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
      |      FROM base WHERE o_orderkey % 101 <> 0)
      |SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      | CASE WHEN a.o_orderkey IS NULL THEN 'insert'
      |      WHEN b.o_orderkey IS NULL THEN 'delete'
      |      ELSE 'update' END AS op,
      | CASE WHEN a.o_orderkey IS NULL OR b.o_orderkey IS NULL THEN ''
      |      ELSE concat_ws(',',
      |        CASE WHEN a.o_orderstatus <> b.o_orderstatus THEN 'o_orderstatus' END,
      |        CASE WHEN a.o_totalprice <> b.o_totalprice THEN 'o_totalprice' END) END AS changed_cols,
      | coalesce(a.o_orderstatus, '') AS old_status,
      | coalesce(b.o_orderstatus, '') AS new_status,
      | coalesce(a.o_totalprice, -1.0) AS old_price,
      | coalesce(b.o_totalprice, -1.0) AS new_price
      |FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
      |WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
      |   OR a.o_orderstatus <> b.o_orderstatus OR a.o_totalprice <> b.o_totalprice
      |ORDER BY o_orderkey""".stripMargin

  /** Hierarchy rollup through Spark 4's `WITH RECURSIVE` SQL surface — the
    * iterative capability (q101/q169 loop-in-Scala) expressed DECLARATIVELY:
    * each account walks a decimal-digit parent chain (`parent = key DIV 10`,
    * a synthetic but deterministic tree over `c_custkey`) to its single-digit
    * root, then order spend is rolled up per root with member count and max
    * chain depth. Scale shape: the recursion runs ⌈log₁₀ N⌉ rounds, each one
    * keyed shuffle of (k, anc, depth) triples — bounded by KEY DIGITS, not
    * data size, the same O(log) round structure as the q169 PageRank loop,
    * but planned by Catalyst's UnionLoop instead of hand-rolled
    * localCheckpoint rounds. Spend sums are DECIMAL(18,2)-exact before the
    * final double cast (the repo-wide float-parity rule).
    */
  def recursiveRollup(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_rec_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_rec_orders")
    spark.sql("""
      WITH RECURSIVE walk AS (
        SELECT c_custkey AS k, c_custkey AS anc, 0 AS depth FROM graft_rec_customer
        UNION ALL
        SELECT k, anc DIV 10, depth + 1 FROM walk WHERE anc >= 10
      ),
      membership AS (SELECT k, anc AS root, depth FROM walk WHERE anc < 10),
      spend AS (SELECT o_custkey AS k, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
                       count(*) AS n
                FROM graft_rec_orders GROUP BY o_custkey)
      SELECT m.root AS root,
             count(*) AS n_members,
             max(m.depth) AS max_depth,
             CAST(coalesce(sum(s.s), 0) AS DOUBLE) AS total_spend,
             CAST(coalesce(sum(s.n), 0) AS BIGINT) AS n_orders
      FROM membership m LEFT JOIN spend s ON m.k = s.k
      GROUP BY m.root
      ORDER BY m.root""")
  }

  /** Declarative data-quality gate (the Deequ/expectation pattern as a
    * query): a rule set over two tables — completeness, key uniqueness,
    * accepted values, numeric range, referential integrity — evaluated with
    * ONE conditional-aggregation scan per table (every per-column rule is a
    * `sum(CASE …)` in the same Aggregate; no per-rule re-scan), the
    * uniqueness rule as a `count(DISTINCT key)` in that same pass, and the
    * FK rule as one left join against the unique parent key. At 100 TB the
    * whole audit costs two table scans plus one keyed join — the shape that
    * makes a per-ingest quality gate affordable. Violation counts are exact
    * integers; `pass` is derived per-row.
    */
  def dqAudit(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_dq_orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_dq_lineitem")
    spark.sql(dqAuditSql("graft_dq_orders", "graft_dq_lineitem"))
  }

  /** The audit SQL is engine-portable ANSI — the SAME text (modulo table
    * names) is the DuckDB oracle, so the rule semantics cannot drift. */
  def dqAuditSql(orders: String, lineitem: String): String =
    s"""WITH ostats AS (
       |  SELECT count(*) AS n,
       |         count(o_custkey) AS nn_cust,
       |         count(DISTINCT o_orderkey) AS nd_key,
       |         CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS BIGINT) AS bad_status,
       |         CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS bad_price
       |  FROM $orders),
       |lstats AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 0 ELSE 1 END) AS BIGINT) AS bad_qty,
       |         CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ship,
       |         CAST(sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.1 THEN 0 ELSE 1 END) AS BIGINT) AS bad_disc
       |  FROM $lineitem),
       |ref AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS viol
       |  FROM $lineitem l LEFT JOIN $orders o ON l.l_orderkey = o.o_orderkey)
       |SELECT rule, n_checked, n_violations, (n_violations = 0) AS pass
       |FROM (
       |  SELECT 'orders.o_custkey.complete' AS rule, n AS n_checked, n - nn_cust AS n_violations FROM ostats
       |  UNION ALL SELECT 'orders.o_orderkey.unique', n, n - nd_key FROM ostats
       |  UNION ALL SELECT 'orders.o_orderstatus.accepted', n, bad_status FROM ostats
       |  UNION ALL SELECT 'orders.o_totalprice.positive', n, bad_price FROM ostats
       |  UNION ALL SELECT 'lineitem.l_quantity.range_1_50', n, bad_qty FROM lstats
       |  UNION ALL SELECT 'lineitem.l_shipdate.complete', n, null_ship FROM lstats
       |  UNION ALL SELECT 'lineitem.l_discount.range_0_01', n, bad_disc FROM lstats
       |  UNION ALL SELECT 'lineitem.l_orderkey.ref_orders', n, viol FROM ref
       |) r
       |ORDER BY rule""".stripMargin

  /** k-anonymity audit with a 2-level generalization lattice — the privacy
    * gate a training-data release runs before shipping quasi-identifiable
    * rows: equivalence classes over (nation, segment) that are smaller than
    * k get GENERALIZED one level up the hierarchy (nation → region); classes
    * still under k after generalization are suppressed outright (reported as
    * one `*`/`*` row so the audit's row inventory is complete). Shape at
    * 100 TB: two groupBy passes — the second only over the rows the first
    * failed (a shrinking re-aggregation, not a rescan) — and the dimension
    * joins are broadcast (nation/region are tiny). All outputs are exact
    * integer class sizes.
    */
  /** Decile-bucket distribution drift — the shape-drift detector that mean
    * monitors (q166) are blind to: order values bucketed by the EXACT
    * overall deciles (rank positions (k·n) DIV 10 under a unique total
    * order — no sampling, unlike q204's planner), then each era's bucket
    * occupancy compared (early vs late by a literal date split). A
    * mean-preserving variance change moves these ratios while q166 stays
    * flat. The PSI-style per-bucket ratio is reported WITHOUT the ln (libm
    * `ln` is not bit-identical across engines — the spec computes PSI
    * in-JVM from the exact counts instead). Bucket assignment is the q204
    * broadcast 9-row boundary table + conditional sum.
    */
  val DecileDriftSplitDate = "1998-05-01"

  def decileDrift(spark: SparkSession, dir: String): DataFrame = {
    // Global rank via the q102 two-pass distributed prefix-sum (PrefixSum):
    // range-partition on the unique (v, okey) order, partition-local
    // row_number + broadcast per-partition offsets — never an unpartitioned
    // `row_number() OVER (ORDER BY ...)` that would sort ALL orders in ONE
    // task. The total row count n falls out of the same collect as a driver
    // Long, so the 9 target rank positions (k·n) DIV 10 become a 9-row
    // broadcast table instead of a 9× explode over the ranked input; the
    // rank→target join keeps target multiplicity so duplicate positions at
    // tiny n (n < 10) yield duplicate bounds exactly as the rank-equality
    // filter did.
    val d0 = lit(DecileDriftSplitDate).cast("timestamp")
    val ranked = PrefixSum.cumSums(
      Tables.orders(spark, dir)
        .select(col("o_totalprice").as("v"), col("o_orderkey").as("okey"),
          when(col("o_orderdate") < d0, 1L).otherwise(0L).as("is_early")),
      Seq(col("v"), col("okey")),
      Seq("rn" -> lit(1L), "e" -> col("is_early")), PrefixSum.defaultParts(spark))
    val n = ranked.totals("rn")
    val totEarly = ranked.totals("e")
    val totLate = n - totEarly
    val targets = (1 to 9).map(k => k.toLong * n / 10L)
    val targetDf = spark.createDataset(targets)(org.apache.spark.sql.Encoders.scalaLong).toDF("t")
    val bounds = ranked.df
      .filter(col("cum_rn").isin(targets.distinct: _*))
      .join(broadcast(targetDf), col("cum_rn") === col("t"))
      .select(col("v").as("b"))
    val d = lit(DecileDriftSplitDate).cast("timestamp")
    val assigned = Tables.orders(spark, dir)
      .crossJoin(broadcast(bounds))
      .groupBy(col("o_orderkey"), col("o_totalprice"), (col("o_orderdate") < d).as("early"))
      .agg(sum(when(col("o_totalprice") > col("b"), 1L).otherwise(0L)).as("bucket"))
    val cells = assigned.groupBy(col("bucket"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("n_early"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("n_late"))
    // era totals are driver Longs from the SAME prefix-sum collect — the
    // former `sum() OVER ()` whole-input windows are gone
    cells
      .withColumn("tot_early", lit(totEarly))
      .withColumn("tot_late", lit(totLate))
      .select(col("bucket"), col("n_early"), col("n_late"),
        OracleMath.stableRound(
          col("n_early").cast("double") / col("tot_early").cast("double"), 6).as("pct_early"),
        OracleMath.stableRound(
          col("n_late").cast("double") / col("tot_late").cast("double"), 6).as("pct_late"),
        when(col("n_early") === 0L, lit(-1.0)).otherwise(
          OracleMath.stableRound(
            (col("n_late").cast("double") / col("tot_late").cast("double")) /
              (col("n_early").cast("double") / col("tot_early").cast("double")), 6))
          .as("occupancy_ratio"))
      .orderBy(col("bucket"))
  }

  val decileDriftOracle: String = {
    val pe = "CAST(n_early AS DOUBLE) / CAST(tot_early AS DOUBLE)"
    val pl = "CAST(n_late AS DOUBLE) / CAST(tot_late AS DOUBLE)"
    s"""WITH r AS (SELECT o_totalprice AS v, o_orderkey AS okey,
       |        row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
       |        count(*) OVER () AS n
       |      FROM orders),
       |bounds AS (SELECT r.v AS b FROM r, (SELECT unnest(range(1, 10)) AS k) ks
       |           WHERE r.rn = (ks.k * r.n) // 10),
       |assigned AS (SELECT o_orderkey,
       |        o_orderdate < TIMESTAMP '$DecileDriftSplitDate 00:00:00' AS early,
       |        CAST(sum(CASE WHEN o_totalprice > b THEN 1 ELSE 0 END) AS BIGINT) AS bucket
       |      FROM orders CROSS JOIN bounds GROUP BY 1, 2),
       |cells AS (SELECT bucket,
       |        CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
       |        CAST(sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS BIGINT) AS n_late
       |      FROM assigned GROUP BY 1),
       |t AS (SELECT *, sum(n_early) OVER () AS tot_early, sum(n_late) OVER () AS tot_late
       |      FROM cells)
       |SELECT bucket, n_early, n_late,
       |  ${OracleMath.stableRoundSql(pe, 6)} AS pct_early,
       |  ${OracleMath.stableRoundSql(pl, 6)} AS pct_late,
       |  CASE WHEN n_early = 0 THEN -1.0
       |       ELSE ${OracleMath.stableRoundSql(s"($pl) / ($pe)", 6)} END AS occupancy_ratio
       |FROM t ORDER BY bucket""".stripMargin
  }

  /** Two-sample Kolmogorov-Smirnov test — the distribution-equality test
    * behind q223's decile view: D = max over values of |ECDF₁ − ECDF₂|
    * between the early and late order eras. ECDFs come from exact
    * cumulative integer counts over the value-sorted distinct-value table;
    * each per-value difference is one fixed float expression and the MAX
    * aggregate is order-free (unlike a sum — that's why KS hash-matches
    * while a float-summed statistic wouldn't). The 5 % critical value
    * 1.358·√((n₁+n₂)∕(n₁n₂)) uses a written literal.
    *
    * Scale shape: the cumulative counts come from [[PrefixSum.cumSums]] —
    * the q102 two-pass distributed prefix-sum (range-partition by value,
    * per-partition totals collected as one row per partition, broadcast
    * offsets + partition-LOCAL window) — never an unpartitioned
    * `Window.orderBy` that would sort the whole distinct-value table (≈
    * orders cardinality) in ONE task. The era totals n₁/n₂ fall out of the
    * same per-partition collect as exact driver Longs, so the former
    * whole-input `sum() OVER ()` windows are gone too; the final max is an
    * ordinary partial+final global aggregate.
    */
  def ksTest(spark: SparkSession, dir: String): DataFrame = {
    val d = lit(DecileDriftSplitDate).cast("timestamp")
    val cells = Tables.orders(spark, dir)
      .select(col("o_totalprice").as("v"), (col("o_orderdate") < d).as("early"))
      .groupBy(col("v"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("c2"))
    val cum = PrefixSum.cumSums(cells, Seq(col("v")),
      Seq("c1" -> col("c1"), "c2" -> col("c2")), PrefixSum.defaultParts(spark))
    val n1 = cum.totals("c1")
    val n2 = cum.totals("c2")
    val ecdf = cum.df
      .select(abs(col("cum_c1").cast("double") / lit(n1).cast("double") -
        col("cum_c2").cast("double") / lit(n2).cast("double")).as("dv"))
    ecdf
      .agg(OracleMath.stableRound(max(col("dv")), 6).as("ks_d"))
      .select(lit(n1).as("n1"), lit(n2).as("n2"), col("ks_d"),
        OracleMath.stableRound(
          lit(1.358) * sqrt((lit(n1) + lit(n2)).cast("double") /
            (lit(n1).cast("double") * lit(n2).cast("double"))), 6).as("ks_crit_05"),
        (col("ks_d") > lit(1.358) * sqrt((lit(n1) + lit(n2)).cast("double") /
          (lit(n1).cast("double") * lit(n2).cast("double")))).as("reject_equality"))
  }

  val ksTestOracle: String = {
    val crit = "1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
    s"""WITH cells AS (SELECT o_totalprice AS v,
       |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '$DecileDriftSplitDate 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '$DecileDriftSplitDate 00:00:00' THEN 0 ELSE 1 END) AS BIGINT) AS c2
       |  FROM orders GROUP BY 1),
       |e AS (SELECT
       |    CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
       |    CAST(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2,
       |    CAST(sum(c1) OVER () AS BIGINT) AS n1,
       |    CAST(sum(c2) OVER () AS BIGINT) AS n2
       |  FROM cells),
       |s AS (SELECT n1, n2,
       |        max(abs(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
       |                CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE))) AS dmax
       |      FROM e GROUP BY 1, 2)
       |SELECT n1, n2,
       |  ${OracleMath.stableRoundSql("dmax", 6)} AS ks_d,
       |  ${OracleMath.stableRoundSql(crit, 6)} AS ks_crit_05,
       |  ${OracleMath.stableRoundSql("dmax", 6)} > $crit AS reject_equality
       |FROM s""".stripMargin
  }

  /** RFM (recency / frequency / monetary) segmentation — the classic CRM
    * partition, computed with ntile(5) quintiles under fully deterministic
    * orderings (each metric tie-breaks on the customer key, so both
    * engines cut identical quintiles — ntile over a non-unique order would
    * be engine-dependent). Recency ranks by last order date ASC (recent
    * customers land in the top quintile because ntile ranks ascending),
    * frequency by order count, monetary by DECIMAL-exact spend; the three
    * digits concatenate to the familiar '555' segment code and the rollup
    * counts customers per code with per-code exact spend. One aggregation
    * over orders + three distributed ranks on the customers-sized table.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("spend"))
    // Each quintile rank = distributed global row_number (PrefixSum two-pass:
    // range-partition + broadcast offsets — never an unpartitioned ntile
    // window that would sort the whole customers table in ONE task) pushed
    // through the exact SQL NTILE bucket formula: with n rows and k=5
    // buckets, q=n DIV 5 and r=n MOD 5, the first r buckets take q+1 rows
    // and the rest take q — pure integer arithmetic on the global rank, so
    // the cut points are bit-identical to both engines' ntile(5) (the
    // orderings are made unique by the customer-key tie-break, exactly as
    // before). n comes from the first collect as a driver Long.
    val s1 = PrefixSum.cumSums(per, Seq(col("last_order"), col("o_custkey")),
      Seq("rr" -> lit(1L)), PrefixSum.defaultParts(spark))
    val s2 = PrefixSum.cumSums(s1.df, Seq(col("freq"), col("o_custkey")),
      Seq("rf" -> lit(1L)), PrefixSum.defaultParts(spark))
    val s3 = PrefixSum.cumSums(s2.df, Seq(col("spend"), col("o_custkey")),
      Seq("rm" -> lit(1L)), PrefixSum.defaultParts(spark))
    val n = s1.totals("rr")
    val q = n / 5L
    val r = n % 5L
    val t = r * (q + 1L) // rows covered by the (q+1)-sized buckets
    val qSafe = math.max(q, 1L) // q=0 only when n<5; the ELSE branch is then unreachable
    def tile(rn: String): Column = expr(
      s"CASE WHEN $rn <= ${t}L THEN ($rn - 1L) DIV ${q + 1L}L + 1L " +
        s"ELSE ${r}L + ($rn - ${t}L - 1L) DIV ${qSafe}L + 1L END")
    s3.df
      .withColumn("r_score", tile("cum_rr"))
      .withColumn("f_score", tile("cum_rf"))
      .withColumn("m_score", tile("cum_rm"))
      .withColumn("segment", concat(col("r_score"), col("f_score"), col("m_score")))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).cast("double").as("segment_spend"))
      .orderBy(col("segment"))
  }

  val rfmSegmentsOracle: String =
    """WITH per AS (SELECT o_custkey, max(o_orderdate) AS last_order,
      |    count(*) AS freq, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY 1),
      |scored AS (SELECT *,
      |    CAST(ntile(5) OVER (ORDER BY last_order, o_custkey) AS BIGINT) AS r_score,
      |    CAST(ntile(5) OVER (ORDER BY freq, o_custkey) AS BIGINT) AS f_score,
      |    CAST(ntile(5) OVER (ORDER BY spend, o_custkey) AS BIGINT) AS m_score
      |  FROM per)
      |SELECT CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment,
      |  count(*) AS n_customers,
      |  CAST(sum(spend) AS DOUBLE) AS segment_spend
      |FROM scored GROUP BY 1 ORDER BY segment""".stripMargin

  /** Mann-Whitney U (rank-sum) test — the nonparametric two-sample location
    * test beside q233's KS shape test. Tie-averaged ranks are kept EXACT by
    * working in DOUBLED rank units: a tie group of size c starting after
    * cum rows has doubled-average-rank `2·cum + c + 1` (an integer), so the
    * rank sum, U₁ = (ΣR₁·2 − n₁(n₁+1))∕2 and the common-language effect
    * size U₁∕(n₁n₂) are integer arithmetic until two final divisions —
    * no float rank sums anywhere. Same value-grouped distributed prefix-sum
    * as q233 ([[PrefixSum.cumSums]] — range-partition + per-partition
    * offsets, never a single-task `Window.orderBy` over the distinct-value
    * table); `cum_before` is the inclusive running total minus the row's own
    * counts, and n₁/n₂ come from the same per-partition collect as exact
    * driver Longs. The rank-sum reduce is a plain partial+final aggregate.
    */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val d = lit(DecileDriftSplitDate).cast("timestamp")
    val cells = Tables.orders(spark, dir)
      .select(col("o_totalprice").as("v"), (col("o_orderdate") < d).as("early"))
      .groupBy(col("v"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("c2"))
    val cum = PrefixSum.cumSums(cells, Seq(col("v")),
      Seq("all" -> (col("c1") + col("c2")), "c1" -> col("c1"), "c2" -> col("c2")),
      PrefixSum.defaultParts(spark))
    val n1 = cum.totals("c1")
    val n2 = cum.totals("c2")
    cum.df
      .withColumn("cum_before", col("cum_all") - col("c1") - col("c2"))
      .withColumn("r2sum_1", col("c1") * (col("cum_before") * 2 + col("c1") + col("c2") + 1))
      .agg(sum(col("r2sum_1")).as("r1_doubled"))
      .select(lit(n1).as("n1"), lit(n2).as("n2"),
        ((col("r1_doubled") - lit(n1) * (lit(n1) + 1)).cast("double") / 2.0).as("u1"),
        OracleMath.stableRound(
          (col("r1_doubled") - lit(n1) * (lit(n1) + 1)).cast("double") / 2.0 /
            (lit(n1).cast("double") * lit(n2).cast("double")), 6).as("cles"))
  }

  val mannWhitneyOracle: String =
    s"""WITH cells AS (SELECT o_totalprice AS v,
       |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '$DecileDriftSplitDate 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '$DecileDriftSplitDate 00:00:00' THEN 0 ELSE 1 END) AS BIGINT) AS c2
       |  FROM orders GROUP BY 1),
       |r AS (SELECT c1, c2,
       |    CAST(coalesce(sum(c1 + c2) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
       |    CAST(sum(c1) OVER () AS BIGINT) AS n1,
       |    CAST(sum(c2) OVER () AS BIGINT) AS n2
       |  FROM cells),
       |s AS (SELECT n1, n2,
       |        CAST(sum(c1 * (cum_before * 2 + c1 + c2 + 1)) AS BIGINT) AS r1_doubled
       |      FROM r GROUP BY 1, 2)
       |SELECT n1, n2,
       |  CAST(r1_doubled - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
       |  ${OracleMath.stableRoundSql(
          "CAST(r1_doubled - n1 * (n1 + 1) AS DOUBLE) / 2.0 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))", 6)} AS cles
       |FROM s""".stripMargin

  /** Multi-level share-of-parent rollup — the drill-down report every
    * revenue dashboard renders: nation revenue as a share of ITS region,
    * region revenue as a share of global, in one result (q04's market
    * share is single-level; this is the hierarchy version). Revenue sums
    * are DECIMAL-exact through both levels — the parent totals are window
    * sums over the already-aggregated nation table (nations-sized), so the
    * corpus pays one join + one aggregation; every share is one fixed
    * float division.
    */
  def shareOfParent(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nationRev = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val withTotals = nationRev
      .withColumn("region_rev", sum(col("rev")).over(Window.partitionBy(col("region"))))
      .withColumn("global_rev", sum(col("rev")).over(Window.partitionBy()))
    val nations = withTotals.select(
      lit("nation").as("level"), col("nation").as("name"), col("region").as("parent"),
      col("rev").cast("double").as("revenue"),
      OracleMath.stableRound(col("rev").cast("double") / col("region_rev").cast("double"), 6)
        .as("share_of_parent"))
    val regions = withTotals
      .groupBy(col("region")).agg(max(col("region_rev")).as("rr"), max(col("global_rev")).as("gr"))
      .select(lit("region").as("level"), col("region").as("name"), lit("global").as("parent"),
        col("rr").cast("double").as("revenue"),
        OracleMath.stableRound(col("rr").cast("double") / col("gr").cast("double"), 6)
          .as("share_of_parent"))
    nations.unionByName(regions).orderBy(col("level"), col("parent"), col("name"))
  }

  val shareOfParentOracle: String =
    s"""WITH nr AS (SELECT r_name AS region, n_name AS nation,
       |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |       JOIN nation ON c_nationkey = n_nationkey
       |       JOIN region ON n_regionkey = r_regionkey
       |  GROUP BY 1, 2),
       |t AS (SELECT *, sum(rev) OVER (PARTITION BY region) AS region_rev,
       |        sum(rev) OVER () AS global_rev
       |      FROM nr)
       |SELECT 'nation' AS level, nation AS name, region AS parent,
       |  CAST(rev AS DOUBLE) AS revenue,
       |  ${OracleMath.stableRoundSql("CAST(rev AS DOUBLE) / CAST(region_rev AS DOUBLE)", 6)} AS share_of_parent
       |FROM t
       |UNION ALL
       |SELECT 'region', region, 'global', CAST(max(region_rev) AS DOUBLE),
       |  ${OracleMath.stableRoundSql("CAST(max(region_rev) AS DOUBLE) / CAST(max(global_rev) AS DOUBLE)", 6)}
       |FROM t GROUP BY region
       |ORDER BY level, parent, name""".stripMargin

  /** Benford first-digit audit — the classic fraud / synthetic-data smell
    * test: the leading digit of order values against Benford's
    * log₁₀(1+1∕d) expectation, with per-digit χ² contributions. Digit
    * extraction is EXACT: values become integer cents (DECIMAL·100 — the
    * q197 primitive) and the leading digit is the first character of the
    * INTEGER's decimal rendering — identical in both engines, unlike a
    * float's printf (whose cent rounding could flip 9.995→10). The nine
    * Benford expectations are written literals (the q157 rule); per-digit
    * contributions are fixed float expressions — no cross-digit float sum
    * (the q196 discipline). TPC-H prices are uniform-ish, so the audit
    * SHOULD flag non-conformance — the spec asserts the mechanism, the
    * flag column reports the verdict honestly.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val digit = expr(
      "CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
    val expectedSql =
      """CASE digit WHEN 1 THEN 0.301029995663981 WHEN 2 THEN 0.176091259055681
        | WHEN 3 THEN 0.124938736608300 WHEN 4 THEN 0.096910013008056
        | WHEN 5 THEN 0.079181246047625 WHEN 6 THEN 0.066946789630613
        | WHEN 7 THEN 0.057991946977687 WHEN 8 THEN 0.051152522447381
        | ELSE 0.045757490560675 END""".stripMargin
    val cells = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 0.0)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("observed"))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy()
    cells
      .withColumn("n", sum(col("observed")).over(tot))
      .withColumn("p_benford", expr(expectedSql).cast("double"))
      .select(col("digit"), col("observed"),
        OracleMath.stableRound(col("observed").cast("double") / col("n").cast("double"), 6)
          .as("p_observed"),
        col("p_benford"),
        OracleMath.stableRound(
          (col("observed").cast("double") - col("n").cast("double") * col("p_benford")) *
            (col("observed").cast("double") - col("n").cast("double") * col("p_benford")) /
            (col("n").cast("double") * col("p_benford")), 4).as("chi2_contrib"))
      .orderBy(col("digit"))
  }

  val benfordAuditOracle: String = {
    val expected =
      """CASE digit WHEN 1 THEN 0.301029995663981 WHEN 2 THEN 0.176091259055681
        | WHEN 3 THEN 0.124938736608300 WHEN 4 THEN 0.096910013008056
        | WHEN 5 THEN 0.079181246047625 WHEN 6 THEN 0.066946789630613
        | WHEN 7 THEN 0.057991946977687 WHEN 8 THEN 0.051152522447381
        | ELSE 0.045757490560675 END""".stripMargin
    val contrib = "(CAST(observed AS DOUBLE) - CAST(n AS DOUBLE) * p_benford) * " +
      "(CAST(observed AS DOUBLE) - CAST(n AS DOUBLE) * p_benford) / (CAST(n AS DOUBLE) * p_benford)"
    s"""WITH d AS (SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |  FROM orders WHERE o_totalprice > 0),
       |cells AS (SELECT digit, count(*) AS observed FROM d GROUP BY 1),
       |t AS (SELECT *, sum(observed) OVER () AS n,
       |        $expected AS p_benford
       |      FROM cells)
       |SELECT digit, observed,
       |  ${OracleMath.stableRoundSql("CAST(observed AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS p_observed,
       |  p_benford,
       |  ${OracleMath.stableRoundSql(contrib, 4)} AS chi2_contrib
       |FROM t ORDER BY digit""".stripMargin
  }

  /** Relational Bloom-filter membership audit — the sketch family's Bloom
    * member (HLL/CMS/MG/t-digest/histogram/bitmap are covered; this
    * completes it) built PORTABLY: k=4 bit positions per key from md5
    * slices mod m=2^20 (1048576), the filter materialized as the distinct-positions
    * TABLE (bit-set union is order-independent, so both engines build the
    * identical filter), and membership = "all 4 positions present" via a
    * positions join — which makes even the FALSE-POSITIVE COUNT an exact
    * hash-matched integer, something an opaque `bloom_filter_agg` blob
    * could never oracle. Probes are the true negatives (event users with
    * no orders, by anti join), so every passing probe is a genuine FP.
    * The measured FP rate is spec-checked against the (1−e^{−kn∕m})^k
    * theory in-JVM (exp stays out of the query — the ln lesson); m = 2²⁰
    * keeps the k·n∕m load ≤ 0.06 at every test SF (production sizes m to
    * the key count the same way).
    */
  val BloomBits = 1048576L
  val BloomHashes = 4

  def bloomMembership(spark: SparkSession, dir: String): DataFrame = {
    def positions(keyCol: String): Column =
      explode(expr(
        s"""transform(sequence(0, ${BloomHashes - 1}), j ->
           |  CAST(conv(substring(md5(concat(CAST($keyCol AS STRING), ':', CAST(j AS STRING))), 1, 12), 16, 10) AS BIGINT) % $BloomBits)""".stripMargin))
    val keys = Tables.orders(spark, dir).select(col("o_custkey")).distinct()
    val bits = keys.select(positions("o_custkey").as("pos")).distinct()
    // the natural negatives are empty at every SF (each event user has
    // orders), so the probe workload is the id space shifted past the key
    // domain — still anti-joined so every probe is PROVABLY a non-member
    val negatives = Tables.events(spark, dir)
      .select((col("user_id") + lit(10000000L)).as("user_id")).distinct()
      .join(keys, col("user_id") === col("o_custkey"), "left_anti")
    val probed = negatives
      .select(col("user_id"), positions("user_id").as("pos"))
      .join(bits, Seq("pos"), "left_semi")
      .groupBy(col("user_id")).agg(count(lit(1)).as("hits"))
      .filter(col("hits") === BloomHashes.toLong)
    keys.agg(count(lit(1)).as("n_keys"))
      .crossJoin(bits.agg(count(lit(1)).as("n_bits_set")))
      .crossJoin(negatives.agg(count(lit(1)).as("n_neg_probes")))
      .crossJoin(probed.agg(count(lit(1)).as("n_fp")))
      .select(col("n_keys"), col("n_bits_set"), col("n_neg_probes"), col("n_fp"),
        when(col("n_neg_probes") === 0L, lit(0.0)).otherwise(
          OracleMath.stableRound(
            col("n_fp").cast("double") / col("n_neg_probes").cast("double"), 6))
          .as("fp_rate"))
      .withColumn("fp_ok", col("fp_rate") < lit(0.05))
  }

  val bloomMembershipOracle: String = {
    def pos(key: String) =
      s"('0x' || substr(md5(CAST($key AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 12))::BIGINT % $BloomBits"
    s"""WITH keys AS (SELECT DISTINCT o_custkey FROM orders),
       |bits AS (SELECT DISTINCT ${pos("o_custkey")} AS pos
       |         FROM keys, (SELECT unnest(range(0, $BloomHashes)) AS j) js),
       |negs AS (SELECT DISTINCT user_id + 10000000 AS user_id FROM events
       |         WHERE user_id + 10000000 NOT IN (SELECT o_custkey FROM keys)),
       |probes AS (SELECT user_id, ${pos("user_id")} AS pos
       |           FROM negs, (SELECT unnest(range(0, $BloomHashes)) AS j) js),
       |fp AS (SELECT p.user_id FROM probes p JOIN bits USING (pos)
       |       GROUP BY 1 HAVING count(*) = $BloomHashes),
       |s AS (SELECT (SELECT count(*) FROM keys) AS n_keys,
       |             (SELECT count(*) FROM bits) AS n_bits_set,
       |             (SELECT count(*) FROM negs) AS n_neg_probes,
       |             (SELECT count(*) FROM fp) AS n_fp)
       |SELECT n_keys, n_bits_set, n_neg_probes, n_fp,
       |  CASE WHEN n_neg_probes = 0 THEN 0.0
       |       ELSE ${OracleMath.stableRoundSql("CAST(n_fp AS DOUBLE) / CAST(n_neg_probes AS DOUBLE)", 6)} END AS fp_rate,
       |  CASE WHEN n_neg_probes = 0 THEN 0.0
       |       ELSE ${OracleMath.stableRoundSql("CAST(n_fp AS DOUBLE) / CAST(n_neg_probes AS DOUBLE)", 6)} END < 0.05 AS fp_ok
       |FROM s""".stripMargin
  }

  /** Rendezvous (highest-random-weight) hashing rebalance audit — the shard
    * assignment scheme whose selling point is PROVABLE minimal disruption:
    * shard(doc) = argmax over nodes of md5(doc ‖ node), so adding node 9 to
    * an 8-node ring moves exactly the docs whose new argmax IS the new node
    * (expected 1∕9 of the corpus) and nothing else — no old node ever GAINS
    * a doc. This query computes both assignments in one docs×9 pass
    * (48-bit md5-prefix weights, rank windows per doc) and emits the
    * per-node before/after/gained/lost matrix; the oracle hash-match pins
    * the exact same assignment in both engines, which is the property a
    * resumable 100 TB shard layout lives on (any engine, any partitioning,
    * same shards).
    */
  val RendezvousOldNodes = 8

  def rendezvousRebalance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = RendezvousOldNodes
    val weighted = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr(s"sequence(0, $n)")).as("node"))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(node AS STRING))), 1, 12), 16, 10) AS BIGINT)"))
    val rnAll = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(desc("h"), col("node")))
    val rnOld = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(desc("h"), col("node")))
    val after = weighted.withColumn("rn", rnAll).filter(col("rn") === 1)
      .select(col("doc_id"), col("node").as("node_after"))
    val before = weighted.filter(col("node") < n).withColumn("rn", rnOld)
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("node").as("node_before"))
    val moves = before.join(after, Seq("doc_id"))
    val perNode = moves.select(
        explode(expr(s"transform(sequence(0, $n), x -> CAST(x AS BIGINT))")).as("node"),
        col("node_before"), col("node_after"))
      .groupBy(col("node"))
      .agg(
        sum(when(col("node_before") === col("node"), 1L).otherwise(0L)).as("n_before"),
        sum(when(col("node_after") === col("node"), 1L).otherwise(0L)).as("n_after"),
        sum(when(col("node_after") === col("node") && col("node_before") =!= col("node"), 1L)
          .otherwise(0L)).as("gained"),
        sum(when(col("node_before") === col("node") && col("node_after") =!= col("node"), 1L)
          .otherwise(0L)).as("lost"))
    perNode.orderBy(col("node"))
  }

  val rendezvousRebalanceOracle: String = {
    val n = RendezvousOldNodes
    s"""WITH w AS (SELECT doc_id, r.node,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(r.node AS VARCHAR)), 1, 12))::BIGINT AS h
       |  FROM documents, (SELECT unnest(range(0, ${n + 1})) AS node) r),
       |aft AS (SELECT doc_id, node AS node_after FROM (
       |    SELECT doc_id, node, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, node) AS rn
       |    FROM w) x WHERE rn = 1),
       |bef AS (SELECT doc_id, node AS node_before FROM (
       |    SELECT doc_id, node, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, node) AS rn
       |    FROM w WHERE node < $n) x WHERE rn = 1),
       |m AS (SELECT bef.doc_id, node_before, node_after FROM bef JOIN aft USING (doc_id))
       |SELECT r.node,
       |  CAST(sum(CASE WHEN node_before = r.node THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
       |  CAST(sum(CASE WHEN node_after = r.node THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
       |  CAST(sum(CASE WHEN node_after = r.node AND node_before <> r.node THEN 1 ELSE 0 END) AS BIGINT) AS gained,
       |  CAST(sum(CASE WHEN node_before = r.node AND node_after <> r.node THEN 1 ELSE 0 END) AS BIGINT) AS lost
       |FROM m, (SELECT unnest(range(0, ${n + 1})) AS node) r
       |GROUP BY 1 ORDER BY r.node""".stripMargin
  }

  /** Wilson-score confidence intervals for per-segment conversion rates —
    * the statistically-honest rate report (a plain ±1.96·√(p(1−p)/n) Wald
    * interval lies badly at small n or extreme p; Wilson doesn't): per
    * market segment, the fraction of customers with an urgent order, with
    * the 95 % Wilson bounds. Exactness discipline: k and n are exact
    * integers from one broadcast-semi-join flag + conditional count; the
    * interval is ONE fixed float expression per row whose constants
    * (1.96, 3.8416, 1.9208, 0.9604) are written as literals — never as
    * `z*z`-style foldable expressions (the q157 round-to-even lesson) —
    * and `sqrt` is IEEE-exact on both engines for identical inputs.
    */
  def wilsonRates(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    val flagged = Tables.customer(spark, dir)
      .join(broadcast(urgent), col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_mktsegment"), col("o_custkey").isNotNull.as("converted"))
    val s = flagged.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("k"))
    val n = col("n").cast("double")
    val p = col("k").cast("double") / n
    val denom = lit(1.0) + lit(3.8416) / n
    val center = (p + lit(1.9208) / n) / denom
    val half = lit(1.96) * sqrt(p * (lit(1.0) - p) / n + lit(0.9604) / (n * n)) / denom
    s.select(col("c_mktsegment"), col("n"), col("k"),
        OracleMath.stableRound(p, 6).as("rate"),
        OracleMath.stableRound(center - half, 6).as("wilson_lo"),
        OracleMath.stableRound(center + half, 6).as("wilson_hi"))
      .orderBy(col("c_mktsegment"))
  }

  val wilsonRatesOracle: String = {
    val n = "CAST(n AS DOUBLE)"
    val p = s"CAST(k AS DOUBLE) / $n"
    val denom = s"(1.0 + 3.8416 / $n)"
    val center = s"(($p) + 1.9208 / $n) / $denom"
    val half = s"1.96 * sqrt(($p) * (1.0 - ($p)) / $n + 0.9604 / ($n * $n)) / $denom"
    s"""WITH u AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
       |f AS (SELECT c_mktsegment, (o_custkey IS NOT NULL) AS converted
       |      FROM customer LEFT JOIN u ON c_custkey = o_custkey),
       |s AS (SELECT c_mktsegment, count(*) AS n,
       |        CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS k
       |      FROM f GROUP BY 1)
       |SELECT c_mktsegment, n, k,
       |  ${OracleMath.stableRoundSql(p, 6)} AS rate,
       |  ${OracleMath.stableRoundSql(s"($center) - ($half)", 6)} AS wilson_lo,
       |  ${OracleMath.stableRoundSql(s"($center) + ($half)", 6)} AS wilson_hi
       |FROM s ORDER BY c_mktsegment""".stripMargin
  }

  /** Sampled range-partition planner + balance audit — Spark's
    * RangePartitioner pipeline made inspectable: a deterministic ~1 % md5
    * sample yields 7 exact-rank boundary values (ranks ⌈k·nₛ∕8⌉ within the
    * sample), the FULL table is then assigned bucket = #(boundaries < v),
    * and the audit reports per-bucket count/min/max plus the skew ratio vs
    * the ideal n∕8 — the number that tells you whether a range write/sort
    * would produce balanced tasks BEFORE paying for it. Assignment here is
    * a broadcast cross-join against the 7-row boundary table + conditional
    * sum (at 100 TB the boundaries ride a broadcast array and assignment is
    * a row-local binary search — same data flow, the 7-row broadcast IS
    * that array). The sample ranks run through [[PrefixSum]]'s two-pass
    * prefix sum (a 1 % sample of 100 TB is still 1 TB — it must never
    * collapse into one window task), and the sample size ns falls out of the
    * same per-partition-totals collect as a driver scalar.
    */
  def rangeBucketAudit(spark: SparkSession, dir: String): DataFrame = {
    val sampled = Tables.orders(spark, dir)
      .filter(expr("CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 6), 16, 10) AS BIGINT) % 100 = 0"))
      .select(col("o_totalprice").as("v"), col("o_orderkey").as("okey"))
    val cum = PrefixSum.cumSums(sampled, Seq(col("v"), col("okey")),
      Seq("rn" -> lit(1L)), PrefixSum.defaultParts(spark))
    val ns = cum.totals("rn")
    val bounds = cum.df
      .select(explode(expr("sequence(1, 7)")).as("k"), col("cum_rn"), col("v"))
      .filter(col("cum_rn") === expr(s"(CAST(k AS BIGINT) * ${ns}L) DIV 8"))
      .select(col("v").as("b"))
    val total = Tables.orders(spark, dir).agg(count(lit(1)).as("n_total"))
    Tables.orders(spark, dir)
      .crossJoin(broadcast(bounds))
      .groupBy(col("o_orderkey"), col("o_totalprice"))
      .agg(sum(when(col("o_totalprice") > col("b"), 1L).otherwise(0L)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_totalprice")).as("min_v"), max(col("o_totalprice")).as("max_v"))
      .crossJoin(total)
      .select(col("bucket"), col("n_rows"), col("min_v"), col("max_v"),
        OracleMath.stableRound(
          col("n_rows").cast("double") * 8.0 / col("n_total").cast("double"), 4)
          .as("skew_vs_ideal"))
      .orderBy(col("bucket"))
  }

  val rangeBucketAuditOracle: String =
    s"""WITH s AS (SELECT o_totalprice AS v, o_orderkey AS okey FROM orders
       |           WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6))::BIGINT % 100 = 0),
       |r AS (SELECT v, row_number() OVER (ORDER BY v, okey) AS rn,
       |        count(*) OVER () AS ns FROM s),
       |bounds AS (SELECT r.v AS b FROM r, (SELECT unnest(range(1, 8)) AS k) ks
       |           WHERE r.rn = (ks.k * r.ns) // 8),
       |assigned AS (SELECT o_orderkey, o_totalprice,
       |        CAST(sum(CASE WHEN o_totalprice > b THEN 1 ELSE 0 END) AS BIGINT) AS bucket
       |      FROM orders CROSS JOIN bounds GROUP BY 1, 2),
       |t AS (SELECT count(*) AS n_total FROM orders)
       |SELECT bucket, count(*) AS n_rows, min(o_totalprice) AS min_v,
       |       max(o_totalprice) AS max_v,
       |  ${OracleMath.stableRoundSql("CAST(count(*) AS DOUBLE) * 8.0 / CAST((SELECT n_total FROM t) AS DOUBLE)", 4)} AS skew_vs_ideal
       |FROM assigned GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Join-cardinality estimator audit — the cost-based-optimizer statistic
    * evaluated as a query: the TRUE output size of orders ⋈ events on the
    * customer key computed WITHOUT executing the join (Σ cntₐ·cntᵦ over the
    * joined per-key count tables — two corpus scans plus a join of two
    * key-sized tables), next to the textbook uniform-NDV estimate
    * |A|·|B|∕max(ndvA, ndvB) every CBO starts from, and the error ratio
    * between them. This is how a planner should VALIDATE its stats at
    * 100 TB: the per-key count tables are the expensive-join-avoiding
    * sketch, and the error ratio is the skew signal (uniform estimates
    * collapse exactly when q165's skew profile says they will). Counts and
    * the actual size are exact integers; the estimate is one fixed float
    * expression.
    */
  def joinCardEstimate(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(spark, dir).groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("ca"))
    val b = Tables.events(spark, dir).groupBy(col("user_id").as("k"))
      .agg(count(lit(1)).as("cb"))
    val joined = a.join(b, Seq("k"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("actual_rows"),
        count(lit(1)).as("n_matched_keys"))
    val statsA = Tables.orders(spark, dir)
      .agg(count(lit(1)).as("n_a"), countDistinct(col("o_custkey")).as("ndv_a"))
    val statsB = Tables.events(spark, dir)
      .agg(count(lit(1)).as("n_b"), countDistinct(col("user_id")).as("ndv_b"))
    statsA.crossJoin(statsB).crossJoin(joined)
      .select(col("n_a"), col("n_b"), col("ndv_a"), col("ndv_b"),
        OracleMath.stableRound(
          col("n_a").cast("double") * col("n_b").cast("double") /
            greatest(col("ndv_a"), col("ndv_b")).cast("double"), 2).as("est_rows"),
        col("actual_rows"), col("n_matched_keys"),
        OracleMath.stableRound(
          col("actual_rows").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double") /
              greatest(col("ndv_a"), col("ndv_b")).cast("double")), 6).as("actual_over_est"))
  }

  val joinCardEstimateOracle: String = {
    val est = "CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(greatest(ndv_a, ndv_b) AS DOUBLE)"
    s"""WITH a AS (SELECT o_custkey AS k, count(*) AS ca FROM orders GROUP BY 1),
       |b AS (SELECT user_id AS k, count(*) AS cb FROM events GROUP BY 1),
       |j AS (SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS actual_rows,
       |             count(*) AS n_matched_keys
       |      FROM a JOIN b USING (k)),
       |sa AS (SELECT count(*) AS n_a, count(DISTINCT o_custkey) AS ndv_a FROM orders),
       |sb AS (SELECT count(*) AS n_b, count(DISTINCT user_id) AS ndv_b FROM events)
       |SELECT n_a, n_b, ndv_a, ndv_b,
       |  ${OracleMath.stableRoundSql(est, 2)} AS est_rows,
       |  actual_rows, n_matched_keys,
       |  ${OracleMath.stableRoundSql(s"CAST(actual_rows AS DOUBLE) / ($est)", 6)} AS actual_over_est
       |FROM sa, sb, j""".stripMargin
  }

  /** GDPR delete-propagation audit — the right-to-be-forgotten pipeline op
    * over a normalized schema: a (deterministic, hash-derived) deletion
    * request list of subjects cascades subject → orders → lineitems, and
    * the audit emits per-table (rows_before, rows_purged, rows_after,
    * leftover) where `leftover` RE-CHECKS the purged output against the
    * deletion predicate (a semi-join count that must be 0 — proof of purge
    * completeness, not arithmetic). Scale shape: the request list and the
    * purged-order key set are broadcast (deletion lists are tiny relative
    * to the corpus), so each cascade hop is one broadcast semi/anti join —
    * no corpus-sized shuffle anywhere.
    */
  def gdprPurge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val evDel = col("user_id") % 97 === 0
    val oDel = col("o_custkey") % 97 === 0
    val purgedOrders = broadcast(o.filter(oDel).select(col("o_orderkey")))
    val evAfter = ev.filter(!evDel)
    val oAfter = o.filter(!oDel)
    val liAfter = li.join(purgedOrders, col("l_orderkey") === col("o_orderkey"), "left_anti")
    def row(table: String, before: DataFrame, after: DataFrame, leftover: DataFrame) =
      before.agg(count(lit(1)).as("rows_before")).crossJoin(
          after.agg(count(lit(1)).as("rows_after")))
        .crossJoin(leftover.agg(count(lit(1)).as("leftover")))
        .select(lit(table).as("table_name"), col("rows_before"),
          (col("rows_before") - col("rows_after")).as("rows_purged"),
          col("rows_after"), col("leftover"))
    row("events", ev, evAfter, evAfter.filter(evDel))
      .unionByName(row("orders", o, oAfter, oAfter.filter(oDel)))
      .unionByName(row("lineitem", li, liAfter,
        liAfter.join(purgedOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")))
      .orderBy(col("table_name"))
  }

  val gdprPurgeOracle: String =
    """WITH purged_orders AS (SELECT o_orderkey FROM orders WHERE o_custkey % 97 = 0),
      |ev AS (SELECT count(*) AS b,
      |        count(*) FILTER (WHERE NOT user_id % 97 = 0) AS a
      |       FROM events),
      |oo AS (SELECT count(*) AS b,
      |        count(*) FILTER (WHERE NOT o_custkey % 97 = 0) AS a
      |       FROM orders),
      |ll AS (SELECT count(*) AS b,
      |        count(*) FILTER (WHERE l_orderkey NOT IN (SELECT o_orderkey FROM purged_orders)) AS a
      |       FROM lineitem)
      |SELECT 'events' AS table_name, b AS rows_before, b - a AS rows_purged,
      |       a AS rows_after, CAST(0 AS BIGINT) AS leftover FROM ev
      |UNION ALL
      |SELECT 'lineitem', b, b - a, a, CAST(0 AS BIGINT) FROM ll
      |UNION ALL
      |SELECT 'orders', b, b - a, a, CAST(0 AS BIGINT) FROM oo
      |ORDER BY table_name""".stripMargin

  /** Schema type-inference profiler over a string-rendered landing table —
    * the CSV-onboarding primitive: every column arrives as text, and the
    * engine must vote a type per column from full-scan parse evidence.
    * The numeric detectors are REGEXES, not try_cast — deliberately:
    * Spark's ANSI `try_cast('1.5' AS BIGINT)` yields NULL while DuckDB's
    * TRY_CAST rounds to 2, so a cast-based integer vote diverges between
    * engines; a `^-?[0-9]+$` match is one semantics everywhere. Dates use
    * an ISO `yyyy-mm-dd` regex AND try_cast — Spark's lenient date cast
    * accepts bare digit strings as years, so the shape gate comes first
    * and the cast only rejects impossible calendar values. Rendering ties
    * (Java `%.2f` HALF_UP vs C printf round-half-even) cannot affect the
    * vote: any rendering of a number still matches the number pattern.
    * One `stack` unpivot + one conditional-agg scan — the q189 audit shape
    * over inferred rather than declared types.
    */
  def typeInference(spark: SparkSession, dir: String): DataFrame = {
    val rendered = Tables.orders(spark, dir).select(
      col("o_orderkey").cast("string").as("c_orderkey"),
      col("o_orderstatus").as("c_status"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("c_date"),
      format_string("%.2f", col("o_totalprice")).as("c_price"))
    rendered
      .select(expr(
        "stack(4, 'orderkey', c_orderkey, 'status', c_status, " +
          "'orderdate', c_date, 'price', c_price) AS (col_name, val)"))
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("val").rlike("^-?[0-9]+$"), 1L).otherwise(0L)).as("n_int"),
        sum(when(col("val").rlike("^-?[0-9]+(\\.[0-9]+)?$"), 1L).otherwise(0L)).as("n_double"),
        sum(when(col("val").rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$") &&
            expr("try_cast(val AS DATE)").isNotNull, 1L).otherwise(0L)).as("n_date"))
      .withColumn("inferred",
        when(col("n_int") === col("n"), "bigint")
          .when(col("n_double") === col("n"), "double")
          .when(col("n_date") === col("n"), "date")
          .otherwise("string"))
      .orderBy(col("col_name"))
  }

  val typeInferenceOracle: String =
    """WITH rendered AS (SELECT CAST(o_orderkey AS VARCHAR) AS c_orderkey,
      |    o_orderstatus AS c_status,
      |    strftime(o_orderdate, '%Y-%m-%d') AS c_date,
      |    printf('%.2f', o_totalprice) AS c_price
      |  FROM orders),
      |lng AS (
      |  SELECT 'orderkey' AS col_name, c_orderkey AS val FROM rendered
      |  UNION ALL SELECT 'status', c_status FROM rendered
      |  UNION ALL SELECT 'orderdate', c_date FROM rendered
      |  UNION ALL SELECT 'price', c_price FROM rendered),
      |p AS (SELECT col_name, count(*) AS n,
      |  CAST(sum(CASE WHEN regexp_matches(val, '^-?[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
      |  CAST(sum(CASE WHEN regexp_matches(val, '^-?[0-9]+(\.[0-9]+)?$') THEN 1 ELSE 0 END) AS BIGINT) AS n_double,
      |  CAST(sum(CASE WHEN regexp_matches(val, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
      |                  AND TRY_CAST(val AS DATE) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_date
      |  FROM lng GROUP BY 1)
      |SELECT col_name, n, n_int, n_double, n_date,
      |  CASE WHEN n_int = n THEN 'bigint' WHEN n_double = n THEN 'double'
      |       WHEN n_date = n THEN 'date' ELSE 'string' END AS inferred
      |FROM p ORDER BY col_name""".stripMargin

  /** Single source for the anonymity threshold — interpolated into the
    * oracle so the Scala default and the SQL twin cannot drift (the q153
    * lesson). */
  val KAnonymityK = 5L

  def kAnonymity(spark: SparkSession, dir: String, k: Long = KAnonymityK): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name").as("nation"), col("r_name").as("region"),
        col("c_mktsegment").as("segment"))
    val l0 = cust.groupBy(col("nation"), col("segment")).agg(count(lit(1)).as("n"))
    val ok0 = l0.filter(col("n") >= k)
      .select(lit(0L).as("qi_level"), col("nation").as("qi1"), col("segment").as("qi2"), col("n"))
    val promoted = cust.join(broadcast(l0.filter(col("n") < k).select(col("nation"), col("segment"))),
      Seq("nation", "segment"))
    val l1 = promoted.groupBy(col("region"), col("segment")).agg(count(lit(1)).as("n"))
    val ok1 = l1.filter(col("n") >= k)
      .select(lit(1L).as("qi_level"), col("region").as("qi1"), col("segment").as("qi2"), col("n"))
    val supp = l1.filter(col("n") < k)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"))
      .select(lit(2L).as("qi_level"), lit("*").as("qi1"), lit("*").as("qi2"), col("n"))
    ok0.unionByName(ok1).unionByName(supp)
      .orderBy(col("qi_level"), col("qi1"), col("qi2"))
  }

  val kAnonymityOracle: String =
    s"""WITH cust AS (
      |  SELECT c_custkey, n_name AS nation, r_name AS region, c_mktsegment AS segment
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |                JOIN region ON n_regionkey = r_regionkey),
      |l0 AS (SELECT nation, segment, count(*) AS n FROM cust GROUP BY 1, 2),
      |promoted AS (SELECT c.* FROM cust c
      |             JOIN l0 ON c.nation = l0.nation AND c.segment = l0.segment
      |             WHERE l0.n < $KAnonymityK),
      |l1 AS (SELECT region, segment, count(*) AS n FROM promoted GROUP BY 1, 2)
      |SELECT CAST(0 AS BIGINT) AS qi_level, nation AS qi1, segment AS qi2, n
      |FROM l0 WHERE n >= $KAnonymityK
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), region, segment, n FROM l1 WHERE n >= $KAnonymityK
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), '*', '*',
      |       CAST(coalesce(sum(n), 0) AS BIGINT) FROM l1 WHERE n < $KAnonymityK
      |ORDER BY qi_level, qi1, qi2""".stripMargin

  val recursiveRollupOracle: String =
    """WITH RECURSIVE walk AS (
      |  SELECT c_custkey AS k, c_custkey AS anc, 0 AS depth FROM customer
      |  UNION ALL
      |  SELECT k, anc // 10, depth + 1 FROM walk WHERE anc >= 10
      |),
      |membership AS (SELECT k, anc AS root, depth FROM walk WHERE anc < 10),
      |spend AS (SELECT o_custkey AS k, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
      |                 count(*) AS n
      |          FROM orders GROUP BY o_custkey)
      |SELECT m.root AS root,
      |       count(*) AS n_members,
      |       max(m.depth) AS max_depth,
      |       CAST(coalesce(sum(s.s), 0) AS DOUBLE) AS total_spend,
      |       CAST(coalesce(sum(s.n), 0) AS BIGINT) AS n_orders
      |FROM membership m LEFT JOIN spend s ON m.k = s.k
      |GROUP BY m.root
      |ORDER BY m.root""".stripMargin
}
