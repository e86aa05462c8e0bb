package graft.pipeline

import graft.enrich.{Enrichment, Rules}
import graft.ops.Caches.Tracked
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference pipeline (T1→T5, SURVEY.md §3.1) as ONE lazy Spark plan:
  *
  *   discover CSVs → latest-K selection → schema'd CSV read (implicit
  *   union-all) → full-row dedup → key dedup → title enrichment → field
  *   enrichment → metadata columns → CSV/parquet sink
  *
  * What the reference does with five Airflow tasks + XCom list-of-dict hops
  * (dag:861-897) is here a single Catalyst DAG; the only materialization
  * barriers left are the two distinct-key classify stages (inherent — the
  * external call needs the key set). File discovery stays driver-side
  * (listing is metadata work, exactly like the reference's list_objects_v2,
  * dag:44-62); everything row-shaped is distributed.
  *
  * On a cluster the same code reads an `s3a://bucket/vacancies/` glob — the
  * base path is a parameter, matching the reference's bucket+prefix config
  * (dag:30-41).
  */
object Pipeline {

  /** Input contract (config/CONFIGURATION.md:33-39) + pass-through salary
    * (datalens_dashboard/README.md:37). Explicit schema — no inference in
    * production paths (SURVEY.md §1.3).
    */
  val vacancySchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("title", StringType),
    StructField("ai_field_of_activity", StringType),
    StructField("created_at", DateType),
    StructField("salary_to", DoubleType),
  ))

  /** S2+S4: bucket scan + latest-K selection. Filter (non-empty ∧ `.csv` ∧
    * len>10, dag:82) then lexicographic sort, take last `k` (dag:91).
    */
  def discoverLatestCsvs(spark: SparkSession, csvDir: String, k: Int = 4): Seq[String] = {
    val path = new Path(csvDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Nil
    fs.listStatus(path).toSeq
      .map(_.getPath.toString)
      .filter(f => f.nonEmpty && f.endsWith(".csv") && f.length > 10)
      .sorted
      .takeRight(k)
  }

  /** S3+U1+D1+D2: read the selected files (multi-path read = implicit
    * union-all), full-row dedup, then deterministic key dedup on `id`.
    */
  def readAndDedup(spark: SparkSession, paths: Seq[String]): DataFrame = {
    if (paths.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], vacancySchema)
    spark.read
      .option("header", "true")
      .schema(vacancySchema)
      .csv(paths: _*)
      .dropDuplicates()
      .dropDuplicates("id")
  }

  /** T3+T4: both enrichment stages (title normalization then field
    * category/specialization), full batched-classifier path.
    */
  def enrichAll(df: DataFrame): DataFrame = {
    val titled = Enrichment.enrich(
      df, "title", Rules.partNameClassifier,
      categoryCol = "normalized_title", batchSize = 15, maxRetries = 1)
    Enrichment.enrich(
      titled, "ai_field_of_activity", Rules.partTypeClassifier,
      categoryCol = "category", specializationCol = "specialization",
      batchSize = 10, maxRetries = 1, retryOther = true)
  }

  /** P5: metadata columns (dag:820-822). Excluded from oracle-checked outputs
    * (wall-clock is inherently nondeterministic).
    */
  def withMeta(df: DataFrame): DataFrame = df
    .withColumn("_processing_date", date_format(current_timestamp(), "yyyyMMdd_HHmmss"))
    .withColumn("_processing_timestamp", current_timestamp())

  /** S5: CSV sink (header, overwrite). The reference writes utf-8-sig
    * (dag:830, for BOM-sniffing consumers like Excel); `bom = true`
    * prepends the UTF-8 BOM to every part file for byte-level S5
    * compatibility. Default stays plain UTF-8 — the sane encoding — so the
    * quirk is opt-in rather than replicated blindly.
    */
  def writeCsv(df: DataFrame, out: String, bom: Boolean = false): Unit = {
    df.write.option("header", "true").mode("overwrite").csv(out)
    if (bom) {
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.getPath.getName.startsWith("part-")).foreach { s =>
        val tmp = new org.apache.hadoop.fs.Path(s.getPath.getParent, "." + s.getPath.getName + ".bom")
        val in = fs.open(s.getPath)
        val o = fs.create(tmp, true)
        o.write(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
        org.apache.hadoop.io.IOUtils.copyBytes(in, o, 65536, true) // closes both
        fs.delete(s.getPath, false)
        fs.rename(tmp, s.getPath)
      }
    }
  }

  /** Whole pipeline, sink optional. The deduped frame is persisted — it is
    * scanned four times downstream (two distinct-key extractions + two
    * map-back joins; the classify stages are action barriers, so lazy
    * sharing can't help), and without the persist the CSV read + both
    * dedup shuffles re-execute on every scan. This is the G2 "XCom
    * materialization barrier" translated to its Spark equivalent: cache the
    * stage boundary, not the task hand-off.
    */
  def run(spark: SparkSession, csvDir: String, out: Option[String] = None, latestK: Int = 4): DataFrame = {
    val files = discoverLatestCsvs(spark, csvDir, latestK)
    val deduped = readAndDedup(spark, files).persistTracked()
    val enriched = withMeta(enrichAll(deduped))
    out.foreach(o => writeCsv(enriched, o))
    enriched
  }

  // ---------------------------------------------------------------------------
  // Deterministic CSV staging for the verified pipeline query
  // ---------------------------------------------------------------------------

  /** Materialize the `part` table as 6 vacancy-shaped CSV shards
    * (`vacancies_000.csv` … `vacancies_005.csv`, sharded by p_partkey % 6) in
    * a scratch dir, so the latest-K selection has real files to choose from.
    * Idempotent per scale-factor dir; done once, driver-side rename only.
    */
  def stageVacancyCsvs(spark: SparkSession, sfDir: String): String = {
    graft.ops.Staging.ensure(spark, "csv", sfDir, Seq("part"),
      (0 until 6).map(i => f"vacancies_00$i.csv")) { base =>
      val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val src = graft.Tables.part(spark, sfDir).select(
        col("p_partkey").as("id"),
        col("p_name").as("title"),
        col("p_type").as("ai_field_of_activity"),
        to_date(lit("2024-01-15")).as("created_at"),
        col("p_retailprice").as("salary_to"))
      (0 until 6).foreach { i =>
        val tmp = s"$base/_shard$i"
        src.filter(pmod(col("id"), lit(6)) === i)
          .coalesce(1)
          .sortWithinPartitions("id")
          .write.option("header", "true").mode("overwrite").csv(tmp)
        val partFile = fs.listStatus(new Path(tmp)).map(_.getPath)
          .find(_.getName.startsWith("part-")).get
        fs.rename(partFile, new Path(f"$base/vacancies_00$i.csv"))
        fs.delete(new Path(tmp), true)
      }
    }
  }

  /** The verified end-to-end query: stage CSVs, run the full pipeline, and
    * project the deterministic columns. The latest-4 selection keeps shards
    * 2..5, so the oracle is `p_partkey % 6 IN (2,3,4,5)` + the CASE WHEN
    * twins of both classifiers.
    */
  def pipelineQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val csvDir = stageVacancyCsvs(spark, sfDir)
    run(spark, csvDir)
      .select(col("id"), col("title"), col("normalized_title"),
        col("ai_field_of_activity"), col("category"), col("specialization"),
        col("salary_to"))
      .orderBy(col("id"))
  }

  def pipelineOracleSql: String =
    s"""SELECT p_partkey AS id, p_name AS title,
       | ${Rules.partNameCaseSql("p_name")} AS normalized_title,
       | p_type AS ai_field_of_activity,
       | ${Rules.partTypeCaseSql("p_type", spec = false)} AS category,
       | ${Rules.partTypeCaseSql("p_type", spec = true)} AS specialization,
       | p_retailprice AS salary_to
       |FROM part WHERE p_partkey % 6 IN (2,3,4,5) ORDER BY id""".stripMargin
}
