package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Predicate pushdown through the custom [[IntervalJoinPlan]] node — the
  * interval-join sibling of [[AsOfJoinFilterPushdown]]: Catalyst's
  * `PushDownPredicates` only understands built-in nodes, so without this a
  * `Filter` above the join blocks all scan pruning below it.
  *
  * Which conjuncts may move differs from the as-of rule because the interval
  * join matches ALL containing intervals (no "latest" selection to perturb),
  * while the outer modes make one side null-producing:
  *
  *  1. **Point-side push** (deterministic, references ⊆ left): safe unless
  *     `keepRight` — under right/full outer the left side is null-producing,
  *     and dropping a point early can turn a matched interval into an
  *     unmatched (null-padded) emission the original filter never saw.
  *  2. **Interval-side push** (references ⊆ right): safe unless `keepLeft` —
  *     matches are per-interval independent, so dropping a failing interval
  *     drops exactly its own match (and, under `keepRight`, its own
  *     null-padded emission, which the filter above would have dropped
  *     anyway). Under left/full outer the right side is null-producing and
  *     the push would resurrect rows.
  *  3. **Key mirror** (keyed mode): a pushed `key = lit` / `key IN (lits)`
  *     conjunct is duplicated onto the positionally-matching key of the
  *     OTHER side — a row outside `lits` can never equi-match a surviving
  *     row, and under the outer modes its null-padded emission carries a
  *     NULL key on the filtered side, which the original conjunct already
  *     rejected. Safe in every mode.
  *  4. **Time-range mirror**: a PUSHED point-time bound implies an interval
  *     bound — `t ≥ L` (every surviving point) means an interval with
  *     `end ≤ L` contains none of them (`t < end ≤ L` contradicts), so
  *     `end > L` mirrors onto the interval side; symmetrically `t ≤ U` ⇒
  *     `start ≤ U` (and the strict forms). Mirrors only ever derive from
  *     conjuncts that were themselves pushable, so the mode restrictions
  *     above already hold, and removing an interval no surviving point can
  *     land in never changes a surviving row's match set.
  */
/** Column pruning through the custom join nodes: Catalyst's `ColumnPruning`
  * inserts per-child Projects below nodes it knows; for [[IntervalJoinPlan]]
  * and [[AsOfJoinPlan]] it can't, so `join(...).select(two cols)` would scan
  * every column of both inputs. A `Project` above either node prunes each
  * child to (columns the projection references) ∪ (columns the join
  * condition itself reads — keys, times, bounds); fires only when that
  * actually drops something, so the optimizer batch reaches a fixpoint.
  * The join's `output` derives from its children's outputs, so the node
  * re-resolves to the narrow schema by construction.
  */
object GraftJoinColumnPruning extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  import org.apache.spark.sql.catalyst.plans.logical.Project

  private def prune(child: LogicalPlan, needed: AttributeSet): Option[LogicalPlan] = {
    val keep = child.output.filter(needed.contains)
    if (keep.size < child.output.size) Some(Project(keep, child)) else None
  }

  private def joinNeeds(j: LogicalPlan): AttributeSet = j match {
    case ij: IntervalJoinPlan => AttributeSet((ij.leftKeys ++ ij.rightKeys ++
      Seq(ij.leftTime, ij.rightStart, ij.rightEnd)).flatMap(_.references))
    case aj: AsOfJoinPlan => AttributeSet((aj.leftKeys ++ aj.rightKeys ++
      Seq(aj.leftTime, aj.rightTime)).flatMap(_.references))
    case _ => AttributeSet.empty
  }

  private def pruned(j: LogicalPlan, needed0: AttributeSet): Option[LogicalPlan] = {
    val needed = needed0 ++ joinNeeds(j)
    val (left, right) = j match {
      case ij: IntervalJoinPlan => (ij.left, ij.right)
      case aj: AsOfJoinPlan     => (aj.left, aj.right)
      case _                    => return None
    }
    val l = prune(left, needed)
    val r = prune(right, needed)
    if (l.isEmpty && r.isEmpty) None
    else Some(j match {
      case ij: IntervalJoinPlan =>
        ij.copy(left = l.getOrElse(ij.left), right = r.getOrElse(ij.right))
      case aj: AsOfJoinPlan =>
        aj.copy(left = l.getOrElse(aj.left), right = r.getOrElse(aj.right))
    })
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // the bare shape, and the shape IntervalJoinFilterPushdown leaves behind
    // when part of the predicate could not move (Project–Filter–join): the
    // residual Filter's references join the needed set, so pruning still
    // reaches the scans instead of silently keeping both children wide
    case p @ Project(projectList, j @ (_: IntervalJoinPlan | _: AsOfJoinPlan)) =>
      pruned(j, AttributeSet(projectList.flatMap(_.references)))
        .map(Project(projectList, _)).getOrElse(p)
    case p @ Project(projectList, f @ Filter(cond, j @ (_: IntervalJoinPlan | _: AsOfJoinPlan))) =>
      pruned(j, AttributeSet(projectList.flatMap(_.references)) ++ cond.references)
        .map(nj => Project(projectList, Filter(cond, nj))).getOrElse(p)
  }
}

object IntervalJoinFilterPushdown extends KeyedFilterPushdown {

  /** A pushed bound on the point time, re-expressed as the loosest interval
    * bound that still excludes nothing a surviving point could match.
    */
  private def timeMirror(j: IntervalJoinPlan, c: Expression): Option[Expression] = {
    def isT(e: Expression): Boolean = e.semanticEquals(j.leftTime)
    c match {
      case GreaterThanOrEqual(t, v: Literal) if isT(t) => Some(GreaterThan(j.rightEnd, v))
      case GreaterThan(t, v: Literal) if isT(t)        => Some(GreaterThan(j.rightEnd, v))
      case LessThan(v: Literal, t) if isT(t)           => Some(GreaterThan(j.rightEnd, v))
      case LessThanOrEqual(v: Literal, t) if isT(t)    => Some(GreaterThan(j.rightEnd, v))
      case LessThanOrEqual(t, v: Literal) if isT(t)    => Some(LessThanOrEqual(j.rightStart, v))
      case LessThan(t, v: Literal) if isT(t)           => Some(LessThan(j.rightStart, v))
      case GreaterThan(v: Literal, t) if isT(t)        => Some(LessThan(j.rightStart, v))
      case GreaterThanOrEqual(v: Literal, t) if isT(t) => Some(LessThanOrEqual(j.rightStart, v))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: IntervalJoinPlan) =>
      val cs = splitConjunctivePredicates(cond)
      val leftPush = cs.filter(c => !j.keepRight && c.deterministic &&
        c.references.nonEmpty && c.references.subsetOf(j.left.outputSet))
      val rightPush = cs.filter(c => !j.keepLeft && c.deterministic &&
        c.references.nonEmpty && c.references.subsetOf(j.right.outputSet))
      if (leftPush.isEmpty && rightPush.isEmpty) f
      else {
        val rest = cs.filterNot(c => leftPush.contains(c) || rightPush.contains(c))
        val rightSide = rightPush ++
          leftPush.flatMap(mirror(j.leftKeys, j.rightKeys, _)) ++
          leftPush.flatMap(timeMirror(j, _))
        val leftSide = leftPush ++ rightPush.flatMap(mirror(j.rightKeys, j.leftKeys, _))
        filtered(rest, j.copy(left = filtered(leftSide, j.left), right = filtered(rightSide, j.right)))
      }
  }
}
