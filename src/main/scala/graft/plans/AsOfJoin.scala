package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF join: for every left row, the single right row with matching keys
  * and the greatest right time ≤ the left time (inner semantics by default;
  * `outer` keeps unmatched left rows with a null-filled right side).
  *
  * The reference pipeline has no such operator; a training-data/analytics
  * engine needs it constantly (attribute an event to the latest prior
  * campaign/click/price point). Spark has no built-in as-of join — the
  * composable encodings (union + window, or range join + row_number) either
  * blow the row count up quadratically on wide time gaps or force two extra
  * shuffles. This is the genuinely-new-operator case from SURVEY.md §7.4,
  * path (c): custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`, registered
  * through `SparkSessionExtensions` ([[graft.GraftExtensions]]).
  *
  * Physical algorithm = one pass of a sort-merge join variant: both sides
  * hash-clustered on the keys and sorted by (keys, time) — requirements that
  * `EnsureRequirements` satisfies with exactly one shuffle+sort per side
  * (and satisfies for FREE if the data is already bucketed/sorted that way) —
  * then a per-partition linear merge that keeps ONE held candidate row per
  * key. O(|L| + |R|) per partition, no row amplification, spill-free: state
  * is a single right row regardless of how many right rows precede a left
  * row. At 100 TB this is the plan you want: shuffle each side once on the
  * join key, never materialize the per-key history.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    outer: Boolean) extends BinaryNode {

  override def output: Seq[Attribute] =
    if (outer) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]. Listed in
  * [[graft.GraftExtensions]], which [[AsOfJoin.asof]] installs on its
  * session.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, outer) =>
      AsOfJoinExec(lk, rk, lt, rt, outer, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    outer: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (outer) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  // same contract as SortMergeJoinExec: co-cluster children on the keys …
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // … and require (keys, time) ordering inside each partition, so the merge
  // below is a single forward pass
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val emitUnmatched = outer
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val nullRight = InternalRow.fromSeq(Seq.fill(rOut.length)(null))
      // (key, time) projections drive the merge order; key-only projections
      // decide match equality. Distinct projection instances — each reuses
      // its own UnsafeRow buffer.
      val lKT = UnsafeProjection.create(leftKeys :+ leftTime, lOut)
      val rKT = UnsafeProjection.create(rightKeys :+ rightTime, rOut)
      val lK = UnsafeProjection.create(leftKeys, lOut)
      val rK = UnsafeProjection.create(rightKeys, rOut)
      val ktOrd = RowOrdering.createNaturalAscendingOrdering(
        (leftKeys :+ leftTime).map(_.dataType))
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType))
      val joined = new JoinedRow
      // outer: bind against a NULLABLE view of the right attributes —
      // binding takes nullability from the INPUT schema, and a
      // non-nullable right column (e.g. a Seq.toDF long) would codegen
      // without a null check and read garbage from the null-padded row
      // (latent until a non-nullable right side: parquet columns are
      // nullable, which is why the q68 consumers never hit it)
      val outProj = UnsafeProjection.create(output,
        if (emitUnmatched) lOut ++ rOut.map(_.withNullability(true)) else lOut ++ rOut)
      val rBuf = rIter.buffered
      // the time field is the last slot of the (keys, time) projections;
      // SQL semantics: NULL never satisfies `rightTime <= leftTime`, so a
      // NULL-time right row is never a candidate and a NULL-time left row
      // never matches — without this, the nulls-first natural ordering
      // would hold a NULL-time right row as "latest ≤ leftTime", and the
      // AsOfJoinFilterPushdown time mirror (which drops NULL-time right
      // rows via `rightTime ≤ U`) would change results
      val tIdx = leftKeys.length

      new Iterator[InternalRow] {
        private var held: InternalRow = _      // latest right row ≤ current left (key, time)
        private var heldKey: InternalRow = _
        private var nextOut: InternalRow = _

        private def advance(): Unit = {
          nextOut = null
          while (nextOut == null && lIter.hasNext) {
            val lRow = lIter.next()
            val lktRow = lKT(lRow)
            // consume every right row at or before this left row in the
            // (key, time) merge order; the last same-key one is the match
            while (rBuf.hasNext && ktOrd.compare(rKT(rBuf.head), lktRow) <= 0) {
              val rRow = rBuf.next()
              if (rKT(rRow).isNullAt(tIdx)) {
                // NULL rightTime: consume for merge progress, never hold
                // (and never clear — a prior same-key candidate stays live)
              } else if (keyOrd.compare(rK(rRow), lK(lRow)) == 0) {
                held = rRow.copy(); heldKey = rK(rRow).copy()
              } else { held = null; heldKey = null }
            }
            if (!lktRow.isNullAt(tIdx) &&
                held != null && keyOrd.compare(heldKey, lK(lRow)) == 0) {
              nextOut = outProj(joined(lRow, held))
            } else if (emitUnmatched) {
              nextOut = outProj(joined(lRow, nullRight))
            }
          }
        }

        override def hasNext: Boolean = { if (nextOut == null) advance(); nextOut != null }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = nextOut; nextOut = null; r
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API for the as-of join. */
object AsOfJoin {
  /** `left ASOF [LEFT] JOIN right ON leftKey = rightKey AND leftTime >=
    * rightTime`. `outer = true` keeps unmatched left rows with nulls on the
    * right (DuckDB's `ASOF LEFT JOIN`).
    *
    * The caller must ensure the two plans share no attribute ids (alias the
    * right side's columns when self-joining — see [[graft.ops.EventOps]]).
    * Installs [[graft.GraftExtensions]] on the session: the custom node needs
    * [[AsOfJoinStrategy]] to plan and its pushdown/pruning rules to optimize.
    */
  def asof(left: DataFrame, right: DataFrame,
           leftKeys: Seq[Column], rightKeys: Seq[Column],
           leftTime: Column, rightTime: Column,
           outer: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val spark = left.sparkSession
    graft.GraftExtensions.install(spark)
    val plan = AsOfJoinPlan(
      left.queryExecution.analyzed, right.queryExecution.analyzed,
      leftKeys.map(GraftSqlBridge.expression),
      rightKeys.map(GraftSqlBridge.expression),
      GraftSqlBridge.expression(leftTime), GraftSqlBridge.expression(rightTime),
      outer)
    GraftSqlBridge.ofRows(spark, plan)
  }
}
