package graft

import graft.functions.{StringFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.scalatest.funsuite.AnyFunSuite

/** The one extension route: the Column API builds its expressions directly
  * (no session state needed), and [[GraftExtensions]] is the single table of
  * SQL names, rules and strategies — injected at session build or applied to
  * a live session by `install`.
  */
class ExtensionRouteSpec extends AnyFunSuite {
  import TestSpark._

  private val Source =
    """SELECT * FROM VALUES
      |  (1, 0.5D, 10L, array(CAST(0.1 AS FLOAT), CAST(-0.2 AS FLOAT), CAST(0.3 AS FLOAT)),
      |   array(0.3D, 0.1D, -0.4D), array(1, 2, 5), array(2, 5, 7), array(3L, 9L, 27L),
      |   'martha', 'marhta', 'alpha', array('a', 'b', 'c')),
      |  (1, 0.9D, 11L, array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT), CAST(-1.0 AS FLOAT)),
      |   array(0.5D, 0.5D, 0.5D), array(4, 8), array(8), array(5L, 25L),
      |   'dixon', 'dicksonx', 'beta', array('x', 'y')),
      |  (2, 0.1D, 20L, array(CAST(0.7 AS FLOAT), CAST(0.7 AS FLOAT), CAST(0.1 AS FLOAT)),
      |   array(-0.1D, 0.2D, 0.9D), array(1, 3), array(2, 4), array(7L),
      |   'jones', 'johnson', 'alpha', array('p'))
      |AS src(g, score, id, f, d, a, b, h, s, t, w, words)""".stripMargin

  /** Map values sorted, so a row prints the same whatever the map order. */
  private def norm(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => (k.toString, norm(x)) }.sortBy(_._1)
    case s: scala.collection.Seq[_] => s.map(norm)
    case r: Row => r.toSeq.map(norm)
    case other => other
  }

  private def rows(df: DataFrame): Seq[Any] = df.collect().toSeq.map(norm)

  /** Every Column helper, in the column order of [[SqlNames]]. */
  private def viaColumns(s: SparkSession): Seq[Seq[Any]] = {
    import VectorFunctions._
    val src = s.sql(Source)
    Seq(
      rows(src.select(col("id"), dotp(col("f"), col("f")), dist2(col("f"), col("d")),
        sortedIntersectSize(col("a"), col("b")), simhash64(col("h")), avghash64(col("s")),
        minhashSigs(col("h"), 4), srp16(col("f")), srp64(col("f")),
        StringFunctions.jaroWinkler(col("s"), col("t"))).orderBy(col("id"))),
      rows(src.groupBy(col("g")).agg(topk(col("score"), col("id"), 2),
        tdigest(col("score"), array(lit(0.5)), lit(100.0)), mg(col("w"), 2), kmv(col("id"), 3))
        .orderBy(col("g"))),
      rows(src.select(ngrams(col("words"), 2).as("ng")).orderBy(col("ng"))))
  }

  /** All 14 SQL names, same computations as [[viaColumns]]. */
  private val SqlNames = Seq(
    """SELECT id, graft_dot(f, f), graft_dist2(f, d), graft_intersect_size(a, b),
      |  graft_simhash64(h), graft_avghash64(s), graft_minhash_sigs(h, 4), graft_srp16(f),
      |  graft_srp64(f), graft_jw(s, t)
      |FROM graft_route_src ORDER BY id""".stripMargin,
    """SELECT g, graft_topk(score, id, 2), graft_tdigest(score, array(0.5D), 100.0D),
      |  graft_mg(w, 2), graft_kmv(id, 3)
      |FROM graft_route_src GROUP BY g ORDER BY g""".stripMargin,
    "SELECT graft_ngrams(words, 2) AS ng FROM graft_route_src ORDER BY ng")

  private def viaSql(s: SparkSession): Seq[Seq[Any]] = {
    s.sql(Source).createOrReplaceTempView("graft_route_src")
    SqlNames.map(q => rows(s.sql(q)))
  }

  private def hasGraftNames(s: SparkSession): Boolean =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_dot"))

  test("Column helpers give the same values on builder, newSession and cloneSession sessions, uninstalled") {
    val fresh = spark.newSession()
    val cloned = GraftSqlBridge.cloneSession(fresh)
    assert(!hasGraftNames(fresh) && !hasGraftNames(cloned), "clones must start with no graft SQL names")
    val expected = viaColumns(spark)
    assert(expected.forall(_.nonEmpty))
    assert(viaColumns(fresh) === expected, "newSession() clone")
    assert(viaColumns(cloned) === expected, "cloneSession clone")
    assert(!hasGraftNames(fresh) && !hasGraftNames(cloned), "the Column route must not register anything")
  }

  test("all 14 SQL names resolve with the same values via withExtensions and via install") {
    val expected = viaColumns(spark)
    val ext =
      try SparkSession.builder().withExtensions(new GraftExtensions).create()
      finally { SparkSession.setDefaultSession(spark); SparkSession.setActiveSession(spark) }
    assert(viaSql(ext) === expected, "session built with the extension")
    val plain = spark.newSession()
    assert(!hasGraftNames(plain))
    GraftExtensions.install(plain)
    assert(viaSql(plain) === expected, "plain session after install")
  }

  test("install is idempotent: one copy of each rule and strategy, registry listing unchanged") {
    val s = spark.newSession()
    def listing = s.sessionState.functionRegistry.listFunction().map(_.unquotedString).sorted
    GraftExtensions.install(s)
    val once = (listing, s.experimental.extraOptimizations, s.experimental.extraStrategies)
    GraftExtensions.install(s)
    assert((listing, s.experimental.extraOptimizations, s.experimental.extraStrategies) === once)
    GraftExtensions.rules.foreach(r => assert(s.experimental.extraOptimizations.count(_ == r) === 1))
    GraftExtensions.strategies.foreach(x => assert(s.experimental.extraStrategies.count(_ == x) === 1))
    assert(GraftExtensions.functions.map(_._1).forall(once._1.contains))
  }

  test("the SQL table names exactly the expressions the Column API offers") {
    val offered = Seq(VectorFunctions, StringFunctions).flatMap { helpers =>
      helpers.getClass.getDeclaredMethods.toSeq
        .filter(m => m.getReturnType == classOf[Column] &&
          java.lang.reflect.Modifier.isPublic(m.getModifiers))
        .map { m =>
          val args = m.getParameterTypes.map {
            case c if c == classOf[Column] => col("x")
            case c if c == Integer.TYPE => Int.box(2)
            case c => fail(s"${m.getName}: unexpected parameter type $c")
          }
          GraftSqlBridge.expression(m.invoke(helpers, args: _*).asInstanceOf[Column]) match {
            case a: AggregateExpression => a.aggregateFunction.getClass
            case e => e.getClass
          }
        }
    }
    val table = GraftExtensions.functions
    assert(table.size === 14 && table.map(_._1).distinct.size === 14)
    assert(offered.size === table.size, "one Column helper per SQL name")
    assert(offered.toSet === table.map(_._2).toSet)
  }
}
