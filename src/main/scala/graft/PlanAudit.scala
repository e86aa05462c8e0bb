package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structural scale audit over the WHOLE query registry: find every window
  * spec with an empty partition clause — the shape that collapses its entire
  * input into ONE task (the classic 100 TB plan killer). The r7 lesson: a
  * named-list assertion (six hand-picked queries) let two new offenders
  * (q182, q256) slip in during the same round the named entries were fixed,
  * so the audit must iterate ALL of `SparkEntry.queries` and force every
  * exception to be declared (and justified) explicitly.
  *
  * Detection parses `windowspecdefinition(...)` argument lists from the
  * optimized logical plan with balanced-paren scanning (a regex on the first
  * argument misses order keys that are expressions): the spec's first
  * TOP-LEVEL argument is a partition expression when any exists, an ordering
  * (carries ` ASC`/` DESC`) when only ORDER BY is present, and the frame
  * (`specifiedwindowframe`/`unspecifiedframe`) when both clauses are empty —
  * the latter two are the unpartitioned shapes. Inspecting the optimized
  * plan keeps the audit build-only (no execution): a partition-less LOGICAL
  * Window can only ever execute single-task, so catching it before physical
  * planning is sound.
  */
object PlanAudit {

  /** The first top-level argument of each `windowspecdefinition(` in `plan`
    * whose partition clause is empty (see object doc for the shape).
    */
  def unpartitionedWindows(plan: String): Seq[String] = {
    val marker = "windowspecdefinition("
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var from = plan.indexOf(marker)
    while (from >= 0) {
      val start = from + marker.length
      var i = start
      var depth = 0
      while (i < plan.length && !(depth == 0 && (plan(i) == ',' || plan(i) == ')'))) {
        if (plan(i) == '(') depth += 1
        else if (plan(i) == ')') depth -= 1
        i += 1
      }
      val firstArg = plan.substring(start, math.min(i, plan.length))
      val ordered = firstArg.endsWith(" ASC NULLS FIRST") || firstArg.endsWith(" ASC NULLS LAST") ||
        firstArg.endsWith(" DESC NULLS FIRST") || firstArg.endsWith(" DESC NULLS LAST")
      val frameOnly = firstArg.startsWith("specifiedwindowframe") ||
        firstArg.startsWith("unspecifiedframe")
      if (ordered || frameOnly) out += firstArg
      from = plan.indexOf(marker, start)
    }
    out.toSeq
  }

  /** One query's structural audit: partition-less windows (optimized
    * logical plan) and CartesianProduct (initial physical plan — the
    * rows×rows shape a missed broadcast hint or a non-equi join without a
    * small side degrades to; every intentional cross join in the registry
    * broadcasts one side, so a CartesianProduct is always a regression).
    */
  final case class Audit(unpartWindows: Seq[String], cartesian: Boolean)

  /** Audit one query: build its frame and scan its plans. The frame is
    * never executed, but building it runs the operator's eager work: its
    * checkpoints and counts, its stored-artifact builds (`Staging.ensure`),
    * q338/q341's label solve.
    */
  def auditQuery(spark: SparkSession, name: String, sfDir: String): Audit = {
    val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
    Audit(unpartitionedWindows(qe.optimizedPlan.toString),
      qe.executedPlan.toString.contains("CartesianProduct"))
  }
}
