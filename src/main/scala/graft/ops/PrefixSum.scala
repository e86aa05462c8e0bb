package graft.ops

import graft.ops.Caches.Tracked
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Two-pass distributed global prefix sums — the scale-safe replacement for
  * an unpartitioned `Window.orderBy(...)`, which collapses the whole input
  * into ONE task (the classic 100 TB plan killer: a single-executor sort of
  * the full table). q102's sequence packing and q278's straddle curve
  * ([[TextOps.cumTokens]]), the exact-rank statistics family (q223 deciles,
  * q233 KS, q234 Mann-Whitney, q235 RFM ntiles) and the other global ranks
  * share this one implementation:
  *
  *   1. range-partition the input on the order keys (RangePartitioner
  *      samples boundaries — fully parallel, preserves global order across
  *      partitions);
  *   2. per-partition totals for every summed column — ONE row per partition
  *      collected to the driver (n_partitions rows, never data);
  *   3. exclusive per-partition offsets broadcast back as a literal CASE
  *      chain, added to a partition-LOCAL cumulative window.
  *
  * Every pass is fully parallel; the only sequential state is the
  * n_partitions-row offset table. Grand totals fall out of the same collect
  * for free and are returned as driver values, so callers never need a
  * `count(*) OVER ()` whole-input window either.
  *
  * The partitioned view is persisted before the offsets are collected so both
  * passes observe the SAME sampled range boundaries (RangePartitioner samples
  * its bounds; collect-then-recompute could see a different partitioning).
  *
  * Correctness requires the order keys to form a UNIQUE total order (ties
  * split across a range-partition boundary would otherwise split a peer
  * group). All callers order by a distinct grouped value or tie-break on a
  * primary key.
  */
object PrefixSum {

  /** Result of [[cumSums]]: the input rows plus one inclusive running-sum
    * column `cum_<name>` per requested sum, and the driver-side grand total
    * per sum (exact Longs — they came from the same per-partition totals the
    * offsets did).
    */
  final case class CumResult(df: DataFrame, totals: Map[String, Long])

  /** Attach inclusive global running sums over `orderCols` to `df`.
    *
    * @param sums (name, longColumn) pairs; the output gains `cum_<name>`
    *             for each. Pass `lit(1L)` to get a global row number.
    */
  def cumSums(df: DataFrame, orderCols: Seq[Column],
              sums: Seq[(String, Column)], nParts: Int): CumResult = {
    val pidCol = "__ps_pid"
    val valCols = sums.map { case (n, c) => c.cast("long").as(s"__ps_v_$n") }
    // persisted via Caches so sweep harnesses can drop it once the consuming
    // query's action completes (a 250-query sweep otherwise accumulates one
    // cached range-partitioned frame per cumSums call)
    val parts = df
      .select(col("*") +: valCols: _*)
      .repartitionByRange(nParts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn(pidCol, spark_partition_id())
      .persistTracked()
    val aggCols = sums.map { case (n, _) => sum(col(s"__ps_v_$n")).as(n) }
    // bounded-collect: one totals row per range partition — O(#partitions)
    val totalRows = parts.groupBy(col(pidCol))
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy(col(pidCol))
      .collect()
    val pids = totalRows.map(_.getInt(0))
    // offsets(n)(i) = exclusive prefix (sum over all earlier partitions);
    // scanLeft yields pids.length+1 entries, zip truncates to the exclusive ones
    val offsets: Map[String, Array[(Int, Long)]] = sums.zipWithIndex.map {
      case ((n, _), i) =>
        val perPart = totalRows.map(_.getLong(i + 1))
        n -> pids.zip(perPart.scanLeft(0L)(_ + _))
    }.toMap
    val totals: Map[String, Long] = sums.zipWithIndex.map { case ((n, _), i) =>
      n -> totalRows.map(_.getLong(i + 1)).sum
    }.toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(pidCol))
      .orderBy(orderCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val withCums = sums.foldLeft(parts.toDF()) { case (acc, (n, _)) =>
      val offsetCol = offsets(n).foldLeft(lit(0L)) { case (accc, (pid, off)) =>
        when(col(pidCol) === pid, lit(off)).otherwise(accc)
      }
      acc.withColumn(s"cum_$n", sum(col(s"__ps_v_$n")).over(w) + offsetCol)
    }
    val cleaned = withCums.drop(pidCol).drop(sums.map(s => s"__ps_v_${s._1}"): _*)
    CumResult(cleaned, totals)
  }

  /** Default partition count for the range pass. */
  def defaultParts(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(2, spark.sparkContext.defaultParallelism / 4)

  /** Global row number 1..N over `orderCols` (which must form a UNIQUE total
    * order) — the drop-in for `row_number().over(Window.orderBy(...))` on
    * unbounded input, as a [[cumSums]] of `lit(1)`. Output: the input columns
    * plus `name` (long).
    */
  def globalRowNumber(df: DataFrame, orderCols: Seq[Column], name: String,
                      nParts: Int): DataFrame =
    cumSums(df, orderCols, Seq("rn" -> lit(1L)), nParts).df
      .withColumnRenamed("cum_rn", name)

  /** Rarity-rank token dictionary: for every distinct value of `tokenCol` in
    * `tokens`, its global rank 1..V by (document frequency ASC, token ASC) as
    * an int id `tok` — rarest-first, so a PPJoin/ED-Join prefix is simply the
    * first elements of the sorted id array. The rank is the [[globalRowNumber]]
    * two-pass prefix sum: a web-scale vocabulary never collapses into one
    * window task. (`Int` ids: the verify kernels merge int arrays; a >2B-term
    * dictionary would switch the kernel to longs before overflowing.)
    */
  def rarityRanks(tokens: DataFrame, tokenCol: String): DataFrame =
    rarityRanksCounted(tokens, tokenCol)._1

  /** [[rarityRanks]] plus the dictionary's MEASURED row count — free, because
    * the rank's two-pass prefix sum already collects per-partition totals
    * whose grand total IS the vocabulary size. Consumers use it to size
    * their dictionary side for [[Joins.broadcastIfFits]] instead of hinting
    * unconditionally.
    */
  def rarityRanksCounted(tokens: DataFrame, tokenCol: String): (DataFrame, Long) = {
    val freq = tokens.groupBy(col(tokenCol)).agg(count(lit(1)).as("df"))
    val cum = cumSums(freq, Seq(col("df"), col(tokenCol)),
      Seq("rn" -> lit(1L)), defaultParts(tokens.sparkSession))
    (cum.df.withColumnRenamed("cum_rn", "tok")
       .select(col(tokenCol), col("tok").cast("int").as("tok")),
     cum.totals("rn"))
  }
}

/** Exact distributed weighted quantiles — the PrefixSum consumer that
  * replaces a `percentile()`-style per-group sort when the input is
  * fact-sized and weighted: quantile p = the smallest value whose cumulative
  * weight reaches p % of the total. With the cumulative weights from
  * [[PrefixSum.cumSums]] the crossing row is a pure ROW-LOCAL predicate
  * (`100·cum ≥ p·W` and `100·(cum − w) < p·W` — exact integer arithmetic,
  * W known from the same collect), so the full pipeline is: one hash
  * aggregate to distinct values, the two-pass prefix sum, one filter. No
  * single-task sort, no per-group memory proportional to the data.
  */
object WeightedQuantiles {
  import graft.Tables

  val QuantilePcts: Seq[Long] = Seq(25L, 50L, 75L, 90L)

  /** Quantity-weighted exact quantiles of lineitem extended price: for each
    * p in [[QuantilePcts]], the smallest price v such that the total
    * quantity on rows priced ≤ v reaches p % of all quantity.
    */
  def weightedPriceQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").as("v"), col("l_quantity").cast("long").as("w"))
      .groupBy(col("v")).agg(sum(col("w")).as("w"))
    val cum = PrefixSum.cumSums(cells, Seq(col("v")),
      Seq("w" -> col("w")), PrefixSum.defaultParts(spark))
    val totalW = cum.totals("w")
    val pcts = QuantilePcts.map { p =>
      cum.df
        .filter(col("cum_w") * 100 >= lit(p) * lit(totalW) &&
          (col("cum_w") - col("w")) * 100 < lit(p) * lit(totalW))
        .select(lit(p).as("pct"), col("v").as("value"),
          col("cum_w").as("cum_weight"), lit(totalW).as("total_weight"))
    }
    pcts.reduce(_ unionByName _).orderBy(col("pct"))
  }

  /** GROUPED exact weighted quantiles — the partitioned-window variant of
    * [[weightedPriceQuantiles]]: within each return flag, the
    * quantity-weighted p25/50/75/90 of extended price. Per-group cumulative
    * weights come from a `partitionBy(group)` window — which DISTRIBUTES
    * (each group's cumsum is an independent partition-local scan after one
    * hash shuffle on the group key), so unlike the global case no two-pass
    * prefix sum is needed; the crossing row per (group, p) is the same
    * row-local integer predicate. The contrast with q52's `percentile()`
    * is memory: this never materializes a per-group value buffer.
    */
  def groupedWeightedQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("grp"), col("l_extendedprice").as("v"),
        col("l_quantity").cast("long").as("w"))
      .groupBy(col("grp"), col("v")).agg(sum(col("w")).as("w"))
    val cw = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tw = Window.partitionBy(col("grp"))
    val cum = cells
      .withColumn("cum_w", sum(col("w")).over(cw))
      .withColumn("total_w", sum(col("w")).over(tw))
    val pcts = QuantilePcts.map { p =>
      cum.filter(col("cum_w") * 100 >= lit(p) * col("total_w") &&
          (col("cum_w") - col("w")) * 100 < lit(p) * col("total_w"))
        .select(col("grp"), lit(p).as("pct"), col("v").as("value"),
          col("cum_w").as("cum_weight"), col("total_w").as("total_weight"))
    }
    pcts.reduce(_ unionByName _).orderBy(col("grp"), col("pct"))
  }

  val groupedWeightedQuantilesOracle: String = {
    val pcts = QuantilePcts.mkString(", ")
    s"""WITH cells AS (SELECT l_returnflag AS grp, l_extendedprice AS v,
       |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
       |  FROM lineitem GROUP BY 1, 2),
       |c AS (SELECT grp, v, w,
       |    CAST(sum(w) OVER (PARTITION BY grp ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_w,
       |    CAST(sum(w) OVER (PARTITION BY grp) AS BIGINT) AS total_w
       |  FROM cells),
       |p AS (SELECT unnest([$pcts]) AS pct)
       |SELECT c.grp, CAST(p.pct AS BIGINT) AS pct, c.v AS value,
       |  c.cum_w AS cum_weight, c.total_w AS total_weight
       |FROM c JOIN p ON c.cum_w * 100 >= p.pct * c.total_w
       |              AND (c.cum_w - c.w) * 100 < p.pct * c.total_w
       |ORDER BY grp, pct""".stripMargin
  }

  val weightedPriceQuantilesOracle: String = {
    val pcts = QuantilePcts.mkString(", ")
    s"""WITH cells AS (SELECT l_extendedprice AS v,
       |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
       |  FROM lineitem GROUP BY 1),
       |c AS (SELECT v, w,
       |    CAST(sum(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_w,
       |    CAST(sum(w) OVER () AS BIGINT) AS total_w
       |  FROM cells),
       |p AS (SELECT unnest([$pcts]) AS pct)
       |SELECT CAST(p.pct AS BIGINT) AS pct, c.v AS value, c.cum_w AS cum_weight,
       |  c.total_w AS total_weight
       |FROM c JOIN p ON c.cum_w * 100 >= p.pct * c.total_w
       |              AND (c.cum_w - c.w) * 100 < p.pct * c.total_w
       |ORDER BY pct""".stripMargin
  }
}
