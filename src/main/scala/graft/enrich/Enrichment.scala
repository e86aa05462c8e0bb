package graft.enrich

import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The batched-enrichment operator (SURVEY.md §2.8) — the reference pipeline's
  * core: classify the *distinct* keys of a column through an external batched
  * classifier, then map results back onto every row.
  *
  * Plan shape (kept from the reference because Catalyst cannot derive it —
  * it is the pipeline's defining optimization, dag:147-159 + :384-396):
  *
  * {{{
  *   distinct(trim(key)) filter nonEmpty, collected and sorted   // O(distinct)
  *   driver rounds over the pending keys:
  *     grouped(batchSize) -> classify, ≤ inFlight calls at once
  *     -> dropDuplicates(original)                // D5, dag:359-366
  *     -> drop keys not asked                     // J3, dag:590-603
  *     misses re-batched at full size next round, ≤ maxRetries + 1 rounds
  *   rows left-join broadcast(mapping) on trim(key)
  *     coalesce(category, 'Не определена')        // default fill, dag:395
  * }}}
  *
  * Scale notes: the expensive external call runs once per distinct key — at
  * 100 TB the distinct-key set (job titles, field names) stays tiny relative
  * to the fact rows, and the broadcast map-back needs it on the driver
  * anyway, so classifying there moves no extra data. Calls in flight are one
  * fixed window, not the task slots, so no queued task serializes the tail.
  */
object Enrichment {

  /** Upper bound on concurrent classifier calls per enrichment. The window
    * is `min(defaultParallelism, MaxCallsInFlight)`: a cluster-sized
    * `defaultParallelism` must not burst an external (rate-limited) endpoint
    * or spawn hundreds of driver threads. 8 is a chosen safety bound, not a
    * measured one: no endpoint's rate limit or driver-thread cost set it.
    */
  private val MaxCallsInFlight = 8

  /** Retry semantics around one batch, mirroring dag:283-318: items missing
    * from the reply are re-batched up to `maxRetries` times; still-missing
    * items become default-filled stubs (dag:310-326). `retryOther=true`
    * reproduces the field-task behavior of treating 'Другое' as a failure
    * worth retrying (dag:623-628); the title task's laxer rule is `false`.
    */
  def classifyBatchWithRetry(
      classifier: Classifier,
      batch: Seq[String],
      maxRetries: Int,
      retryOther: Boolean): Seq[Classified] =
    classifyAll(classifier, batch, batch.size max 1, maxRetries, retryOther, 1)

  /** Classifies `keys` in at most `maxRetries + 1` rounds; each round
    * re-batches every pending key at `batchSize` and runs the batches on
    * `inFlight` daemon threads. Keeps input order. What `classify` throws
    * past the empty-reply rule (fatal errors, interrupts) reaches the caller
    * unwrapped.
    */
  private def classifyAll(classifier: Classifier, keys: Seq[String], batchSize: Int,
      maxRetries: Int, retryOther: Boolean, inFlight: Int): Seq[Classified] = {
    def attempt(batch: Seq[String]): Iterable[Classified] = {
      val replies =
        try classifier.classify(batch)
        catch { case scala.util.control.NonFatal(_) => Nil } // dag:302-307: exception == empty reply
      val asked = batch.toSet
      // D5 per-batch dedup (keep first) + J3 semi-join guard (drop hallucinated keys)
      replies.filter(r => asked.contains(r.original)).groupBy(_.original).map { case (_, vs) => vs.head }
        .filter(r => r.category != Defaults.Unclassified && (!retryOther || r.category != Defaults.Other))
    }
    val pool = Executors.newFixedThreadPool(
      inFlight max 1, (r: Runnable) => { val t = new Thread(r, "graft-classify"); t.setDaemon(true); t })
    try {
      var pending = keys
      var acc = Map.empty[String, Classified]
      for (_ <- 0 to maxRetries if pending.nonEmpty) {
        pending.grouped(batchSize).toVector
          .map(b => pool.submit((() => attempt(b)): Callable[Iterable[Classified]]))
          .foreach(f => try f.get.foreach(r => acc += r.original -> r)
            catch { case e: ExecutionException => throw e.getCause })
        pending = pending.filterNot(acc.contains)
      }
      // exhausted -> stub records, never dropped rows (dag:310-326)
      keys.map(k => acc.getOrElse(k, Classified(k, Defaults.Unclassified, "")))
    } finally pool.shutdownNow()
  }

  /** Full enrichment: J1/J2 broadcast map-back with default-fill.
    *
    * Adds `categoryCol` (and `specializationCol` if non-empty) to `df` by
    * classifying distinct `keyCol` values. Empty/blank keys classify as
    * 'Не указано' without ever reaching the classifier (dag:750-753); keys
    * the classifier could not resolve get 'Не определена' (dag:392-396).
    */
  def enrich(
      df: DataFrame,
      keyCol: String,
      classifier: Classifier,
      categoryCol: String,
      specializationCol: String = "",
      batchSize: Int = 15,
      maxRetries: Int = 1,
      retryOther: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    // bounded-collect: the distinct classifier keys, broadcast back below;
    // sorted so batch composition repeats run to run
    val keys = df.select(trim(col(keyCol)).as("original")).filter(col("original") =!= "")
      .distinct().as[String].collect().sorted.toSeq
    val inFlight = math.min(spark.sparkContext.defaultParallelism, MaxCallsInFlight)
    val mapping = classifyAll(classifier, keys, batchSize, maxRetries, retryOther, inFlight)
      .toDF("original", "__cat", "__spec")

    val joined = df.join(broadcast(mapping), trim(col(keyCol)) === col("original"), "left")
    val withCat = joined.withColumn(
      categoryCol,
      when(trim(col(keyCol)) === "" || col(keyCol).isNull, lit(Defaults.NotSpecified))
        .otherwise(coalesce(col("__cat"), lit(Defaults.Unclassified))))
    val withSpec =
      if (specializationCol.isEmpty) withCat
      else withCat.withColumn(
        specializationCol,
        when(trim(col(keyCol)) === "" || col(keyCol).isNull, lit(Defaults.NotSpecified))
          .otherwise(coalesce(when(col("__spec") =!= "", col("__spec")), lit(Defaults.Unclassified))))
    withSpec.drop("original", "__cat", "__spec")
  }
}
