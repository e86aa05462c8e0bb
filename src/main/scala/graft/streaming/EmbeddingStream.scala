package graft.streaming

import graft.ops.{Banding, OracleMath, SimilarityOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

/** Streaming lane for the INCREMENTAL gated near-dup (q325): today's
  * embedding batch arrives as parquet drops in a landing directory; each
  * microbatch bands its vectors row-locally, joins the STATIC banded corpus
  * (stream-static inner joins — the corpus never re-shuffles per batch),
  * the 64-bit SRP Hamming gate cuts candidates INSIDE the band join, and
  * the exact-cosine verify appends the surviving pairs.
  *
  * Oracle = q324's UNGATED batch twin VERBATIM: `AvailableNow` drains every
  * staged file, each delta row's match set depends only on that row and the
  * static corpus (batch boundaries can't change it), and the gate is
  * output-preserving by the q321/q322 margin proof — so the streamed,
  * gated, two-microbatch pair set must hash-match the one-shot ungated
  * batch SQL.
  *
  * 100 TB shape: the stream side carries its embedding through the band
  * rows (8× a 64-float vector per delta row — the delta is the small side
  * by definition); the corpus side is banded ONCE per run here and would be
  * a precomputed banded table in a standing deployment. Stateful ops:
  * one dropDuplicates on the candidate pair id (bounded by the run's
  * candidate count under AvailableNow).
  */
object EmbeddingStream {

  private[graft] val deltaSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true))))

  /** Stage the perturbed delta as a 2-file landing dir (strictly increasing
    * mtimes — two genuine microbatches under maxFilesPerTrigger=1).
    */
  private[graft] def stageDeltaDir(spark: SparkSession, dir: String): String = {
    EventsStream.stageLanding(spark, "stream_emb", dir, "embeddings", 2) {
      val d = SimilarityOps.perturbedDelta(spark, dir)
      (0 until 2).map(k => d.filter(pmod(col("vec_id"), lit(2)) === k))
    }
  }

  /** q325 — the q324 incremental gated near-dup as a streaming query. */
  def deltaGatedNearDupStreaming(spark: SparkSession, dir: String): DataFrame = {
    val srcDir = stageDeltaDir(spark, dir)
    val drained = StreamJoinOps.runToCompletion(spark, "append", skipFinalize = true) { s =>
      import graft.ops.Caches.TrackedPersist
      // static side, built once: skinny banded corpus for the gate join +
      // the corpus vectors for the verify join
      val corpus = SimilarityOps.withBandSketch64(
        graft.Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
        .persistTracked()
      val cBands = SimilarityOps.explodeBands(corpus, Seq("srp"))
        .select(col("vec_id").as("id_c"), col("srp").as("srp_c"), col("bk"), col("bv"))
      val cVecs = corpus.select(col("vec_id").as("id_c"),
        col("embedding").as("emb_c"), col("nrm").as("nrm_c"))
      // stream side: row-local sketches, bands carrying the delta vector
      // (the delta is the small side — 8 band rows per arriving vector)
      val stream = s.readStream
        .schema(deltaSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
      val sBands = SimilarityOps.explodeBands(
        SimilarityOps.withBandSketch64(stream), Seq("srp", "embedding", "nrm"))
        .select(col("vec_id").as("id_d"), col("srp").as("srp_d"),
          col("embedding").as("emb_d"), col("nrm").as("nrm_d"), col("bk"), col("bv"))
      sBands.join(cBands,
          Seq("bk", "bv")) // stream-static inner
        .filter(Banding.hamming(col("srp_c"), col("srp_d")) <= lit(SimilarityOps.Srp64GateMaxH))
        .select(col("id_c"), col("id_d"), col("emb_d"), col("nrm_d"))
        .dropDuplicates("id_c", "id_d") // band-collision dups, per-run state
        .join(cVecs, "id_c") // second stream-static join: the wide verify
        .withColumn("sim",
          graft.functions.VectorFunctions.dotp(col("emb_c"), col("emb_d")) /
            (col("nrm_c") * col("nrm_d")))
        .filter(col("sim") >= 0.9)
        .select(col("id_c"), col("id_d"), OracleMath.stableRound(col("sim"), 6).as("sim"))
    }
    drained.orderBy(col("id_c"), col("id_d"))
  }
}
