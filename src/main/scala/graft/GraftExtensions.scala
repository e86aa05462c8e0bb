package graft

import graft.functions._
import graft.plans.{AsOfJoinFilterPushdown, AsOfJoinStrategy, GraftJoinColumnPruning, IntervalJoinFilterPushdown, IntervalJoinStrategy}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Session-extension entry point: binds the graft SQL names, optimizer rules
  * and planner strategies ([[GraftExtensions.functions]],
  * [[GraftExtensions.rules]], [[GraftExtensions.strategies]]) into any
  * session created with `--conf spark.sql.extensions=graft.GraftExtensions`
  * or `.withExtensions(new GraftExtensions)` — the standard plug-in
  * architecture for a Spark-native library.
  *
  * The DataFrame route needs none of it: the Column API
  * ([[graft.functions.VectorFunctions]], [[graft.functions.StringFunctions]])
  * builds its expressions directly. A live session that needs the SQL names
  * or the custom join planning gets the same table through
  * [[GraftExtensions.install]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name), GraftExtensions.info(name, cls), builder))
    }
    GraftExtensions.rules.foreach(r => e.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(s => e.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {
  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** The graft SQL names: (name, expression class, builder). The Column API
    * offers the same expressions under [[VectorFunctions]] /
    * [[StringFunctions]].
    */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("graft_intersect_size", classOf[SortedIntersectSize], e => SortedIntersectSize(e(0), e(1))),
    ("graft_dist2", classOf[SquaredDistance], e => SquaredDistance(e(0), e(1))),
    ("graft_topk", classOf[TopKByScore], e => TopKByScore(e(0), e(1), e(2)).toAggregateExpression()),
    ("graft_simhash64", classOf[SimHash64], e => SimHash64(e(0))),
    ("graft_avghash64", classOf[AvgHash64], e => AvgHash64(e(0))),
    ("graft_minhash_sigs", classOf[MinhashSigs], e => MinhashSigs(e(0), intArg(e(1)))),
    ("graft_ngrams", classOf[NGrams], e => NGrams(e(0), intArg(e(1)))),
    ("graft_tdigest", classOf[TDigestQuantiles],
      e => TDigestQuantiles(e(0), e(1), e(2)).toAggregateExpression()),
    ("graft_mg", classOf[MisraGries], e => MisraGries(e(0), e(1)).toAggregateExpression()),
    ("graft_kmv", classOf[KmvSketch], e => KmvSketch(e(0), e(1)).toAggregateExpression()),
    ("graft_srp16", classOf[SrpSketch16], e => SrpSketch16(e(0))),
    ("graft_srp64", classOf[SrpSketch64], e => SrpSketch64(e(0))),
    ("graft_jw", classOf[JaroWinkler], e => JaroWinkler(e(0), e(1))))

  /** Optimizer rules. The KMV rewrite is inert unless a session sets its
    * flag; the join rules only match the custom join nodes.
    */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    IntersectKernelRule, KmvCountDistinctRewrite,
    AsOfJoinFilterPushdown, IntervalJoinFilterPushdown, GraftJoinColumnPruning)

  /** Planner strategies for the custom join nodes. */
  val strategies: Seq[SparkStrategy] = Seq(AsOfJoinStrategy, IntervalJoinStrategy)

  private def info(name: String, cls: Class[_]): ExpressionInfo =
    new ExpressionInfo(cls.getName, name)

  /** Applies the table to a live session (one built without the extension,
    * or a `newSession()` clone). Idempotent: a function is registered only
    * if absent, and a rule or strategy is appended only if absent.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id)) registry.registerFunction(id, info(name, cls), builder)
    }
    val x = spark.experimental
    val newRules = rules.filterNot(x.extraOptimizations.contains)
    if (newRules.nonEmpty) x.extraOptimizations = x.extraOptimizations ++ newRules
    val newStrategies = strategies.filterNot(x.extraStrategies.contains)
    if (newStrategies.nonEmpty) x.extraStrategies = x.extraStrategies ++ newStrategies
  }
}
