package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banding core of every sketch near-dup family — MinHash-LSH (q39,
  * q153, q170), SimHash (q59), pHash (q187) and SRP-ANN ([[SimilarityOps]]):
  * a sketch is cut into bands, rows agreeing on a band meet in one equi-join
  * bucket, and candidates are verified by Hamming distance (bit
  * fingerprints) or popcount Jaccard (word-set masks).
  */
object Banding {

  /** SQL text of band `i` (an int expression) of the packed long `packed`:
    * its bits [i·width, (i+1)·width).
    */
  private def bandSql(packed: String, i: String, width: Int): String =
    s"shiftright($packed, CAST($i AS INT) * $width) & ${(1L << width) - 1}"

  /** Explode the packed long column `packed` into `nBands` rows of
    * `width`-bit bands — `bk` the band index, `bv` the band value — keeping
    * the `keep` columns. The ANN signature is 8 × 4 bits; the 64-bit
    * fingerprints are 4 × 16.
    */
  private[graft] def explodeBits(df: DataFrame, keep: Seq[String], packed: String,
                                 nBands: Int, width: Int): DataFrame =
    df.select(keep.map(col) :+ explode(expr(
        s"transform(sequence(0, ${nBands - 1}), b -> struct(b AS bk, ${bandSql(packed, "b", width)} AS bv))")).as("b"): _*)
      .select(keep.map(col) :+ col("b.bk").as("bk") :+ col("b.bv").as("bv"): _*)

  /** Band `i` of the packed long column named `packed` (the scalar form of
    * [[explodeBits]]'s `bv`).
    */
  private def bitBand(packed: String, i: Int, width: Int): Column =
    expr(bandSql(packed, i.toString, width))

  /** Hamming distance of two packed sketch columns. */
  private[graft] def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Jaccard of two word sets encoded as 64-bit membership masks: two
    * popcounts. The double division matches the oracles'
    * `CAST(len AS DOUBLE) / len` exactly.
    */
  private[graft] def maskJaccard(a: Column, b: Column): Column =
    bit_count(a.bitwiseAND(b)).cast("double") / bit_count(a.bitwiseOR(b))

  /** `f(b, slice)` for each MinHash band b = 0 until `nBands`, where
    * `slice` is the band's `rows` consecutive signature values — the one
    * band cut of a MinHash signature array.
    */
  private[graft] def minhashBands(sig: Column, nBands: Int, rows: Int)
                                 (f: (Column, Column) => Column): Column =
    transform(sequence(lit(0), lit(nBands - 1)), b => f(b, slice(sig, b * rows + 1, lit(rows))))

  private val FpBands = 4
  private val FpBandBits = 16

  /** `(doc_a, doc_b, hamming)` pairs of 64-bit fingerprints `(doc_id, <fp>)`
    * that share one of four 16-bit bands and lie within Hamming `maxH`
    * (lossless for `maxH` ≤ 3 by pigeonhole), sorted. One equi self-join on
    * the exploded (band index, band value) key, three longs per row. A pair
    * is emitted once, at its first shared band ("all earlier bands differ",
    * from the carried fingerprints), so no dedup shuffle is needed.
    */
  private[graft] def hammingNearDup(fps: DataFrame, fp: String, maxH: Long): DataFrame = {
    val banded = explodeBits(fps, Seq("doc_id", fp), fp, FpBands, FpBandBits)
    val earlierDiffer = (0 until FpBands - 1).map { i =>
      when(col("a.bk") > i,
        bitBand(s"a.$fp", i, FpBandBits) =!= bitBand(s"b.$fp", i, FpBandBits))
        .otherwise(lit(true))
    }.reduce(_ && _)
    banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.bv") === col("b.bv")
          && col("a.doc_id") < col("b.doc_id") && earlierDiffer)
      .withColumn("hamming", hamming(col(s"a.$fp"), col(s"b.$fp")).cast("long"))
      .filter(col("hamming") <= maxH)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
