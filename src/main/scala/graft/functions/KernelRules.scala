package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayIntersect, Expression, Size, SortArray}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, IntegerType}

/** Optimizer rule: rewrite the idiomatic-but-interpreted intersection-count
  * pattern
  *
  *   size(array_intersect(sort_array(array_distinct(x)),
  *                        sort_array(array_distinct(y))))
  *
  * into the codegen'd [[SortedIntersectSize]] merge kernel. Users write the
  * built-in form; plans get the kernel automatically (≈20× on hot loops —
  * array_intersect builds a hash set + output array per row, the kernel is
  * one allocation-free merge).
  *
  * Safety guards make the rewrite semantics-preserving: both inputs must be
  * sorted (default ascending comparator) distinct int arrays — exactly the
  * precondition under which counting merge-matches equals
  * |array_intersect| (duplicates would diverge, custom comparators would
  * break the merge order).
  *
  * Listed in [[graft.GraftExtensions.rules]], so it runs only in a session
  * built with the extension or given [[graft.GraftExtensions.install]]. No
  * registry query needs it: graft operators call
  * [[VectorFunctions.sortedIntersectSize]] themselves.
  */
object IntersectKernelRule extends Rule[LogicalPlan] {

  private def isSortedDistinctIntArray(e: Expression): Boolean = e match {
    case SortArray(arg, asc) =>
      arg.isInstanceOf[ArrayDistinct] &&
        asc.foldable && asc.eval() == true &&
        (e.dataType match {
          case ArrayType(IntegerType, _) => true
          case _ => false
        })
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Size(ArrayIntersect(l, r), _) if isSortedDistinctIntArray(l) && isSortedDistinctIntArray(r) =>
      SortedIntersectSize(l, r)
  }
}
