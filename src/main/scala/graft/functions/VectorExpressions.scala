package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector/set hot loops.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`) is
  * semantically right but executes interpreted lambdas per element — at
  * 10^7 candidate pairs × 64 dims that dominated the bench (~90% of total
  * time). These expressions generate a call to a tight static loop over the
  * unsafe array data (no per-element boxing, no intermediate arrays) and stay
  * inside whole-stage codegen, per the preference order in SURVEY.md §7.4:
  * compose built-ins < custom `Expression` < custom physical operator.
  *
  * Numeric parity: [[VectorKernels]] folds strictly left-to-right in double,
  * the same order the HOF version and the DuckDB oracle use — results are
  * bit-identical, only faster.
  */
object VectorKernels {
  /** dot(float[], float[]) with per-element double promotion. */
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** dot(float[], double[]) — query-side float vs literal double planes. */
  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    acc
  }

  /** dot(double[], double[]) — centroid-vs-centroid etc. */
  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Σ(aᵢ−bᵢ)² — float[] vs double[] (PQ subvectors vs codebook), strictly
    * left-to-right: bit-identical to
    * `aggregate(zip_with(a, b, (x,c) -> (x-c)*(x-c)), 0.0, +)` and to the
    * DuckDB twin's list_sum(list_transform(...)).
    */
  def dist2FD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) { val d = a.getFloat(i).toDouble - b.getDouble(i); acc += d * d; i += 1 }
    acc
  }

  /** Σ(aᵢ−bᵢ)² — double[] vs double[]. */
  def dist2DD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) { val d = a.getDouble(i) - b.getDouble(i); acc += d * d; i += 1 }
    acc
  }

  /** The 16×64 ±1 SRP plane matrix, derived ONCE from md5("p:d") — the
    * single source for the Scala kernel, the HOF formulation it replaced,
    * and the oracle literals (via `SimilarityOps.SrpSigns`).
    */
  val SrpSigns16: Array[Array[Long]] = Array.tabulate(16, 64) { (p, d) =>
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes("UTF-8"))
    if ((md(0) & 1) == 0) 1L else -1L
  }

  /** Packed 16-bit SRP sign sketch of a float[] embedding: bit p = 1 ⇔
    * Σⱼ floor(xⱼ·10⁶ + 0.5) · signs(p)(j) ≥ 0 — bit-identical to the
    * `aggregate(zip_with(...))` formulation (same e6 quantization, exact
    * long arithmetic), but one static loop instead of 16 interpreted
    * lambda folds per row.
    */
  def srpSketch16(a: ArrayData): Long = {
    val n = math.min(a.numElements(), 64)
    val q = new Array[Long](n)
    var j = 0
    while (j < n) {
      q(j) = math.floor(a.getFloat(j).toDouble * 1000000.0 + 0.5).toLong
      j += 1
    }
    var sketch = 0L
    var p = 0
    while (p < 16) {
      val s = SrpSigns16(p)
      var acc = 0L
      var i = 0
      while (i < n) { acc += q(i) * s(i); i += 1 }
      if (acc >= 0L) sketch |= (1L << p)
      p += 1
    }
    sketch
  }

  /** The 64×64 ±1 SRP plane matrix — the WIDE sketch's single source
    * (kernel + oracle literals, like [[SrpSigns16]]). Seed namespace "w:"
    * keeps the two matrices independent: plane p of the 64-bit sketch is
    * NOT plane p of the 16-bit one.
    */
  val SrpSigns64: Array[Array[Long]] = Array.tabulate(64, 64) { (p, d) =>
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"w:$p:$d".getBytes("UTF-8"))
    if ((md(0) & 1) == 0) 1L else -1L
  }

  /** Packed 64-bit SRP sign sketch — [[srpSketch16]] at 4× the planes (the
    * width q306's calibration says 16 bits lacks): bit p = 1 ⇔
    * Σⱼ floor(xⱼ·10⁶ + 0.5) · signs64(p)(j) ≥ 0. Same e6 quantization,
    * exact long arithmetic — every bit reproducible in SQL.
    */
  def srpSketch64(a: ArrayData): Long = {
    val n = math.min(a.numElements(), 64)
    val q = new Array[Long](n)
    var j = 0
    while (j < n) {
      q(j) = math.floor(a.getFloat(j).toDouble * 1000000.0 + 0.5).toLong
      j += 1
    }
    var sketch = 0L
    var p = 0
    while (p < 64) {
      val s = SrpSigns64(p)
      var acc = 0L
      var i = 0
      while (i < n) { acc += q(i) * s(i); i += 1 }
      if (acc >= 0L) sketch |= (1L << p)
      p += 1
    }
    sketch
  }

  /** |A ∩ B| for two ascending-sorted int arrays (set semantics). */
  def intersectSizeSortedInt(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getInt(i); val y = b.getInt(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Sequential-fold dot product of two arrays (float/float or float/double)
  * as DoubleType. Codegen emits a static call — no lambda interpretation.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private lazy val kernel: String =
    (elemType(left), elemType(right)) match {
      case (FloatType, FloatType)   => "dotFF"
      case (FloatType, DoubleType)  => "dotFD"
      case (DoubleType, DoubleType) => "dotDD"
      case (l, r) => throw new IllegalArgumentException(s"DotProduct: unsupported ($l, $r)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = kernel match {
    case "dotFF" => VectorKernels.dotFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    case "dotFD" => VectorKernels.dotFD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    case "dotDD" => VectorKernels.dotDD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.$kernel($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Sequential-fold squared L2 distance of two arrays (float/double or
  * double/double) as DoubleType — the PQ hot loop. Same fold order as the
  * HOF formulation it replaces, so results are bit-identical, only faster
  * (no per-element lambda interpretation, no intermediate zipped array).
  */
case class SquaredDistance(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private lazy val kernel: String =
    (elemType(left), elemType(right)) match {
      case (FloatType, DoubleType)  => "dist2FD"
      case (DoubleType, DoubleType) => "dist2DD"
      case (l, r) => throw new IllegalArgumentException(s"SquaredDistance: unsupported ($l, $r)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = kernel match {
    case "dist2FD" => VectorKernels.dist2FD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    case "dist2DD" => VectorKernels.dist2DD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.$kernel($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Packed 16-bit SRP sign sketch of an ArrayType(FloatType) embedding as
  * LongType — the q306/q307 sketch as one codegen'd static call.
  */
case class SrpSketch16(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any =
    VectorKernels.srpSketch16(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorKernels.srpSketch16($a)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Packed 64-bit SRP sign sketch of an ArrayType(FloatType) embedding as
  * LongType — [[SrpSketch16]]'s wide sibling (independent plane matrix).
  */
case class SrpSketch64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any =
    VectorKernels.srpSketch64(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorKernels.srpSketch64($a)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** |A ∩ B| of two ascending-sorted ArrayType(IntegerType) columns. */
case class SortedIntersectSize(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.intersectSizeSortedInt(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.intersectSizeSortedInt($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column API over the graft expressions. Each helper builds its Catalyst
  * expression directly, so it resolves on any session — a plain
  * `builder()` session, a `newSession()` or `cloneSession` clone — with
  * nothing in the function registry. The SQL names (`graft_dot`, …) live
  * only in [[graft.GraftExtensions]], whose table lists the same
  * expressions.
  */
object VectorFunctions {
  def dotp(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))

  def sortedIntersectSize(a: Column, b: Column): Column =
    column(SortedIntersectSize(expression(a), expression(b)))

  def dist2(a: Column, b: Column): Column = column(SquaredDistance(expression(a), expression(b)))

  def simhash64(hashes: Column): Column = column(SimHash64(expression(hashes)))

  def avghash64(payload: Column): Column = column(AvgHash64(expression(payload)))

  def minhashSigs(hashes: Column, k: Int): Column = column(MinhashSigs(expression(hashes), k))

  def ngrams(words: Column, n: Int): Column = column(NGrams(expression(words), n))

  def srp16(embedding: Column): Column = column(SrpSketch16(expression(embedding)))

  def srp64(embedding: Column): Column = column(SrpSketch64(expression(embedding)))

  /** Per group, the `k` payloads with the highest score ([[TopKByScore]]). */
  def topk(score: Column, payload: Column, k: Int): Column =
    column(TopKByScore(expression(score), expression(payload), Literal(k)).toAggregateExpression())

  /** Per group, t-digest estimates of `value` at `probs` ([[TDigestQuantiles]]). */
  def tdigest(value: Column, probs: Column, compression: Column): Column =
    column(TDigestQuantiles(expression(value), expression(probs), expression(compression))
      .toAggregateExpression())

  /** Per group, a Misra-Gries sketch of ≤ `k` counters ([[MisraGries]]). */
  def mg(word: Column, k: Int): Column =
    column(MisraGries(expression(word), Literal(k)).toAggregateExpression())

  /** Per group, the ≤ `k` smallest distinct hashes ([[KmvSketch]]). */
  def kmv(hash: Column, k: Int): Column =
    column(KmvSketch(expression(hash), Literal(k)).toAggregateExpression())
}
