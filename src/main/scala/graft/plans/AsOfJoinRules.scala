package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** The shared core of the custom joins' filter pushdown rules: conjunct
  * splitting comes from Catalyst's [[PredicateHelper]], and [[mirror]] is the
  * one key mirror both rules apply.
  */
private[plans] trait KeyedFilterPushdown extends Rule[LogicalPlan] with PredicateHelper {

  /** `key = lit` / `lit = key` / `key IN (lits)` on one of `keys`, mirrored
    * onto the positionally-matching key of `onto`.
    */
  protected def mirror(keys: Seq[Expression], onto: Seq[Expression],
                       c: Expression): Option[Expression] = {
    def keyFor(k: Expression): Option[Expression] =
      keys.zipWithIndex.collectFirst {
        case (lk, i) if lk.semanticEquals(k) => onto(i)
      }
    c match {
      case EqualTo(k, v: Literal) => keyFor(k).map(EqualTo(_, v))
      case EqualTo(v: Literal, k) => keyFor(k).map(EqualTo(_, v))
      case In(k, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        keyFor(k).map(In(_, vs))
      case _ => None
    }
  }

  /** `child` under the conjunction of `conds`, or `child` itself. */
  protected def filtered(conds: Seq[Expression], child: LogicalPlan): LogicalPlan =
    if (conds.isEmpty) child else Filter(conds.reduce(And), child)
}

/** Predicate pushdown through the custom [[AsOfJoinPlan]] node. Catalyst's
  * own `PushDownPredicates` only understands built-in nodes, so without this
  * rule a `Filter` above an as-of join blocks ALL scan pruning — at 100 TB
  * the difference between scanning a partition and scanning the table.
  *
  * Two semantics-preserving moves per conjunct:
  *
  *  1. **Left-only push**: a deterministic conjunct referencing only left
  *     attributes commutes with the join for both inner and outer variants
  *     (the join never alters left attributes, and dropping a left row drops
  *     exactly its output rows).
  *  2. **Key mirror**: a pushed `leftKey = lit` / `leftKey IN (lits)`
  *     conjunct is duplicated onto the corresponding RIGHT key. Every
  *     surviving left row has leftKey ∈ lits, and a right row can only match
  *     a left row with rightKey = leftKey, so right rows outside lits can
  *     never match — removable under inner and outer alike.
  *
  *  3. **Time upper-bound mirror**: a pushed `leftTime ≤ U` (or `< U`)
  *     conjunct implies `rightTime ≤ U` (resp. `< U`) for every right row
  *     that can match — the join is backward-looking (`rightTime ≤
  *     leftTime`), so a right row past U satisfies `rightTime > U ≥
  *     leftTime` against every surviving left row and was never a
  *     candidate; removing it cannot change which row is "latest ≤
  *     leftTime" for any survivor. LOWER bounds must NOT mirror: a right
  *     row before `leftTime ≥ L`'s cutoff can still be the latest match
  *     for a surviving left row.
  *
  * Right-only conjuncts must NOT push: filtering the right child changes
  * *which* right row is the latest-at-or-before candidate (post-join they
  * only drop already-matched rows), so they stay above the join.
  */
object AsOfJoinFilterPushdown extends KeyedFilterPushdown {

  /** A pushed UPPER bound on the left time mirrored onto the right time
    * (backward mode: `rightTime ≤ leftTime ≤ U` ⇒ `rightTime ≤ U`). Strict
    * vs inclusive is preserved through the `rightTime ≤ leftTime`
    * inequality chain. NULL-time right rows: the mirrored filter drops
    * them (`NULL ≤ U` is not true), which is safe because
    * [[AsOfJoinExec]] itself never holds a NULL-time right row as a
    * candidate (SQL semantics: NULL never satisfies `rightTime ≤
    * leftTime`) — asserted by the NULL-time cases in GraftSpec.
    */
  private def timeMirror(j: AsOfJoinPlan, c: Expression): Option[Expression] = {
    def isT(e: Expression): Boolean = e.semanticEquals(j.leftTime)
    c match {
      case LessThanOrEqual(t, v: Literal) if isT(t)    => Some(LessThanOrEqual(j.rightTime, v))
      case LessThan(t, v: Literal) if isT(t)           => Some(LessThan(j.rightTime, v))
      case GreaterThan(v: Literal, t) if isT(t)        => Some(LessThan(j.rightTime, v))
      case GreaterThanOrEqual(v: Literal, t) if isT(t) => Some(LessThanOrEqual(j.rightTime, v))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoinPlan) =>
      val (leftOnly, rest) = splitConjunctivePredicates(cond).partition(c =>
        c.deterministic && c.references.subsetOf(j.left.outputSet))
      if (leftOnly.isEmpty) f
      else {
        val mirrored = leftOnly.flatMap(mirror(j.leftKeys, j.rightKeys, _)) ++
          leftOnly.flatMap(timeMirror(j, _))
        filtered(rest, j.copy(left = filtered(leftOnly, j.left), right = filtered(mirrored, j.right)))
      }
  }
}
