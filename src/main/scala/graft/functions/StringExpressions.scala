package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Native string-similarity kernels — the linkage hot loop (graded
  * agreement, q320). Same design as [[VectorKernels]]: one static call
  * inside whole-stage codegen, no per-row boxing beyond the byte arrays.
  */
object StringKernels {

  /** Jaro similarity over the raw UTF-8 BYTES, the classic two-pass
    * algorithm: match window ⌊max(|s|,|t|)/2⌋ − 1, greedy in-order
    * matching, transpositions = ⌊mismatched-matched-positions / 2⌋,
    * jaro = (m/|s| + m/|t| + (m−t)/m) / 3. Empty input ⇒ 0 (DuckDB's
    * convention, incl. both-empty). Byte-wise matching equals
    * codepoint-wise on ASCII — the linkage fields this serves; the 6-dp
    * oracle quantization is what the cross-engine contract rides on
    * (pinned against DuckDB `jaro_winkler_similarity` in StringSimSpec).
    */
  def jaro(a: UTF8String, b: UTF8String): Double = {
    val s = a.getBytes
    val t = b.getBytes
    val sl = s.length
    val tl = t.length
    if (sl == 0 || tl == 0) return 0.0
    val window = math.max((math.max(sl, tl) / 2) - 1, 0)
    val sM = new Array[Boolean](sl)
    val tM = new Array[Boolean](tl)
    var m = 0
    var i = 0
    while (i < sl) {
      val lo = math.max(0, i - window)
      val hi = math.min(i + window, tl - 1)
      var j = lo
      var matched = false
      while (j <= hi && !matched) {
        if (!tM(j) && s(i) == t(j)) {
          sM(i) = true; tM(j) = true; m += 1; matched = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var k = 0
    var mism = 0
    i = 0
    while (i < sl) {
      if (sM(i)) {
        while (!tM(k)) k += 1
        if (s(i) != t(k)) mism += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val trans = (mism / 2).toDouble
    (md / sl + md / tl + (md - trans) / md) / 3.0
  }

  /** Winkler boost over [[jaro]]: common-prefix length capped at 4, scaling
    * 0.1, applied only when jaro > 0.7 (the boost threshold DuckDB uses —
    * probed empirically: jaro 0.6667 with a 4-byte prefix stays unboosted,
    * 0.7037 boosts).
    */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val j = jaro(a, b)
    if (j <= 0.7) return j
    val s = a.getBytes
    val t = b.getBytes
    val max = math.min(4, math.min(s.length, t.length))
    var l = 0
    while (l < max && s(l) == t(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }
}

/** Jaro-Winkler similarity of two string columns as DoubleType — the
  * codegen'd kernel for graded-agreement linkage (q320). Preference order
  * per SURVEY.md §7.4: a native `Expression` with `doGenCode`, never a UDF.
  */
case class JaroWinkler(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    StringKernels.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StringKernels.jaroWinkler($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column API over [[JaroWinkler]], built directly like [[VectorFunctions]]. */
object StringFunctions {
  def jaroWinkler(a: Column, b: Column): Column = column(JaroWinkler(expression(a), expression(b)))
}
