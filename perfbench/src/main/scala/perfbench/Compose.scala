package perfbench

import graft.enrich.{Classifier, Enrichment}
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The vacancy_daily pipeline, composed from the same public calls
  * `Pipeline.run` makes, in the same order and with the same arguments,
  * but with the two classifiers passed in (`Pipeline.run` hard-wires the
  * part rule classifiers). `ComposeParitySpec` keeps the two from drifting.
  * Each call is one span in a traced run.
  */
object Compose {
  def pipeline(spark: SparkSession, csvDir: String, out: String, latestK: Int,
               title: Classifier, field: Classifier): DataFrame = {
    val files = Trace.span("pipeline.discover")(Pipeline.discoverLatestCsvs(spark, csvDir, latestK))
    val deduped = Trace.span("pipeline.read_dedup")(
      Pipeline.readAndDedup(spark, files).persist(StorageLevel.MEMORY_AND_DISK))
    val titled = Trace.span("pipeline.enrich_title")(Enrichment.enrich(
      deduped, "title", title, categoryCol = "normalized_title", batchSize = 15, maxRetries = 1))
    val fielded = Trace.span("pipeline.enrich_field")(Enrichment.enrich(
      titled, "ai_field_of_activity", field, categoryCol = "category",
      specializationCol = "specialization", batchSize = 10, maxRetries = 1, retryOther = true))
    val enriched = Trace.span("pipeline.meta")(Pipeline.withMeta(fielded))
    Trace.span("pipeline.sink")(Pipeline.writeCsv(enriched, out))
    enriched
  }
}
