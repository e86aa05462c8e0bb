package graft.ops

import graft.Tables
import graft.enrich._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Enrichment operators over the testdata (SURVEY.md §2.8 + A1-A6 stats),
  * all flowing through the full [[Enrichment]] engine: distinct keys →
  * batched classify + retry + guard in a bounded driver window → broadcast
  * map-back with default fill.
  */
object EnrichOps {

  /** J1-shape title normalization on part.p_name, driven through a
    * [[FlakyClassifier]]: the first attempt deterministically drops ~1/3 of
    * each batch and injects a hallucinated key, so the retry loop (dag:283-318)
    * and the J3 semi-join guard (dag:590-603) are exercised *inside the
    * oracle-verified path* — the retry converges to the pure rule results,
    * which is exactly what the CASE WHEN oracle computes.
    */
  def enrichPartNames(spark: SparkSession, dir: String): DataFrame = {
    val flaky = new FlakyClassifier(Rules.partNameClassifier, dropEveryNth = 3)
    Enrichment
      .enrich(Tables.part(spark, dir), "p_name", flaky,
        categoryCol = "normalized_name", batchSize = 15, maxRetries = 1)
      .select(col("p_partkey"), col("p_name"), col("normalized_name"))
      .orderBy(col("p_partkey"))
  }

  /** J2-shape two-valued enrichment on part.p_type (category+specialization,
    * one key), batch 10 like the reference's field task (dag:669).
    */
  def enrichPartTypes(spark: SparkSession, dir: String): DataFrame =
    Enrichment
      .enrich(Tables.part(spark, dir), "p_type", Rules.partTypeClassifier,
        categoryCol = "category", specializationCol = "specialization",
        batchSize = 10, maxRetries = 1, retryOther = true)
      .select(col("p_partkey"), col("p_type"), col("category"), col("specialization"))
      .orderBy(col("p_partkey"))

  /** A1-A6 stats suite over the enriched output: per-category frequency,
    * percent-of-total, and the success flag the reference logs
    * (dag:405-416) — one verified table instead of print statements.
    */
  def enrichmentStats(spark: SparkSession, dir: String): DataFrame = {
    val enriched = Enrichment.enrich(
      Tables.part(spark, dir), "p_name", Rules.partNameClassifier,
      categoryCol = "normalized_name")
    val counts = enriched.groupBy(col("normalized_name")).agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("pct", OracleMath.stableRound(col("cnt") * lit(100.0) / sum(col("cnt")).over(Window.partitionBy()), 1))
      .withColumn("is_success",
        !col("normalized_name").isin(Defaults.Unclassified, Defaults.NotSpecified, Defaults.Other))
      .orderBy(desc("cnt"), col("normalized_name"))
  }

  // -- DuckDB oracle twins of the registry queries built here (SparkEntry.registry)
  def enrichPartNamesOracle: String =
    s"""SELECT p_partkey, p_name, ${Rules.partNameCaseSql("p_name")} AS normalized_name
       |FROM part ORDER BY p_partkey""".stripMargin
  def enrichPartTypesOracle: String =
    s"""SELECT p_partkey, p_type, ${Rules.partTypeCaseSql("p_type", spec = false)} AS category,
       | ${Rules.partTypeCaseSql("p_type", spec = true)} AS specialization
       |FROM part ORDER BY p_partkey""".stripMargin
  def enrichmentStatsOracle: String =
    s"""SELECT normalized_name, cnt, ${graft.ops.OracleMath.stableRoundSql("cnt * CAST(100.0 AS DOUBLE) / total", 1)} AS pct,
       | normalized_name NOT IN ('${Defaults.Unclassified}','${Defaults.NotSpecified}','${Defaults.Other}') AS is_success
       |FROM (SELECT ${Rules.partNameCaseSql("p_name")} AS normalized_name, count(*) AS cnt,
       |       sum(count(*)) OVER () AS total
       |      FROM part GROUP BY 1)
       |ORDER BY cnt DESC, normalized_name""".stripMargin
}
