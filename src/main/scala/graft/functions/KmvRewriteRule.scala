package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Opt-in optimizer rewrite: `count(DISTINCT x)` → KMV sketch estimate.
  *
  * The scalable path for distinct counting at 100 TB is a mergeable sketch
  * (each partition ships ≤ k longs per group) rather than
  * `count(DISTINCT)`'s expand shuffle of every distinct value — but asking
  * users to rewrite their SQL onto `graft_kmv` forfeits the whole existing
  * query surface. This rule closes that gap the Spark-native way: a session
  * that sets `spark.graft.kmvCountDistinct=true` keeps writing plain ANSI
  * `count(DISTINCT x)` and the OPTIMIZER swaps in
  * [[graft.functions.KmvSketch]] plus the Bar-Yossef estimator
  * `(k−1)·2⁴⁸∕h₍ₖ₎` (exact when a group holds < k distinct values, because
  * the sketch then IS the full distinct hash set). The flag is read per
  * plan, so the rule is inert everywhere it was not explicitly requested —
  * an approximation must never be a silent default.
  *
  * Design constraints that shape the rewrite:
  *  - **Type-preserving**: the estimate is truncated to BIGINT so every
  *    consumer resolved against `count`'s LongType keeps working.
  *  - **Deterministic cross-engine**: the hash is the md5-prefix 48-bit
  *    uniform (`conv(substr(md5(cast(x as string)),1,12),16,10)`) used by
  *    the q263 family, so a DuckDB twin reproduces the sketch EXACTLY by
  *    ranking distinct hashes — the rewrite stays oracle-gateable.
  *  - **Narrow trigger**: non-foldable children of atomic integer/string
  *    types only, FILTER clauses kept. Multi-column `count(DISTINCT a, b)`
  *    sketches a length-prefixed tuple encoding (collision-free by
  *    construction); everything else is left for the built-in distinct
  *    planning.
  *
  * Listed in [[graft.GraftExtensions.rules]]: injected by the extension or
  * added by [[graft.GraftExtensions.install]] (which q284/q304 call on their
  * session clone). Either way the rule runs before physical
  * distinct-aggregate planning, while `AggregateExpression(isDistinct =
  * true)` is still visible.
  */
object KmvCountDistinctRewrite extends Rule[LogicalPlan] {

  /** Session flag gating the rewrite (off ⇒ rule is a no-op). */
  val FlagKey = "spark.graft.kmvCountDistinct"

  /** Sketch size: rel. error ≈ 1∕√(k−2) ≈ 13 %. Same k as the explicit
    * q263 `graft_kmv` surface so the two paths are comparable.
    */
  val K = 64

  /** 2⁴⁸ — the hash domain of the 12-hex-digit md5 prefix. */
  val TwoPow48: Double = 281474976710656.0

  private def eligible(e: Expression): Boolean = !e.foldable && (e.dataType match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  })

  /** Sketch key for `count(DISTINCT a, b, …)`: the children are
    * LENGTH-PREFIXED before concatenation (`len(a):a|len(b):b|`), so two
    * different tuples can never encode to the same key the way a bare
    * separator join would (`('a|b','c')` vs `('a','b|c')`). `Concat`
    * propagates NULL, matching Count's distinct semantics (a tuple with any
    * NULL column is not counted).
    */
  private def tupleKey(children: Seq[Expression]): Expression =
    if (children.length == 1) children.head
    else Concat(children.flatMap { c =>
      val s = Cast(c, StringType)
      Seq(Cast(Length(s), StringType), Literal(":"), s, Literal("|"))
    })

  /** The md5-prefix 48-bit hash as a Catalyst tree (the expression twin of
    * `conv(substring(md5(cast(x as string)), 1, 12), 16, 10)::bigint`).
    */
  private def hash48(child: Expression): Expression =
    Cast(
      new Conv(
        Substring(Md5(Cast(Cast(child, StringType), BinaryType)), Literal(1), Literal(12)),
        Literal(16), Literal(10)),
      LongType)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(FlagKey, "false") != "true") return plan
    plan.transform {
      case agg: Aggregate => agg.transformExpressions {
        case ae @ AggregateExpression(Count(children), _, true, _, _)
            if children.nonEmpty && children.forall(eligible) =>
          val sketch = ae.copy(
            aggregateFunction = KmvSketch(hash48(tupleKey(children)), Literal(K)),
            isDistinct = false)
          val n = Size(sketch, legacySizeOfNull = false)
          // size == K ⇒ h_k is the K-th smallest distinct hash = array_max;
          // size < K ⇒ the sketch is the complete distinct hash set, so the
          // exact count is returned (and h_k is never read). Division is
          // safe in the estimate branch: with K=64 distinct 48-bit values,
          // h_k ≥ K−1 > 0.
          val est = Cast(
            Divide(Literal((K - 1).toDouble * TwoPow48), Cast(ArrayMax(sketch), DoubleType)),
            LongType)
          If(LessThan(n, Literal(K)), Cast(n, LongType), est)
      }
    }
  }
}
