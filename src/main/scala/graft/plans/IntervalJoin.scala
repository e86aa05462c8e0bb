package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, ClusteredDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** MERGE interval join: every left "point" row joins every right interval
  * row with `start ≤ t < end` (equi-keys optional; inner / left / right /
  * full outer) — the second whole-operator extension (SURVEY §7.4 path c)
  * reusing the [[AsOfJoinPlan]] scaffolding (LogicalPlan + Strategy + Exec,
  * listed in [[graft.GraftExtensions]]).
  *
  * Why an operator instead of the q64 composable encodings:
  *
  *  - the **bin-explode** encoding (q64: explode each interval to its
  *    covering bins, equi-join on bin + residual range filter) amplifies
  *    interval rows by their bin span and re-tests the residual per
  *    candidate — with DENSE ranges (every point hits an interval, intervals
  *    abut) the amplification and the per-row CASE work are pure overhead;
  *  - a **BroadcastNestedLoopJoin** tests every point against every interval
  *    (points × intervals comparisons).
  *
  * Two physical modes, chosen by whether equi-keys are given:
  *
  *  - **Broadcast (keyless)**: the point side needs only a per-partition
  *    LOCAL sort by time (EnsureRequirements adds the Sort; NO exchange —
  *    the point side keeps its partitioning, at 100 TB nothing corpus-sized
  *    moves) and the interval side is broadcast, sorted once by start per
  *    partition. Interval side must be broadcast-sized. Inner/left only: a
  *    broadcast copy exists in every task, so "this interval matched no
  *    point anywhere" is a global fact no single task can decide — right
  *    and full outer REQUIRE the keyed mode, where co-clustering makes each
  *    interval's full match set task-local.
  *  - **Keyed (SortMergeJoin's contract)**: both sides hash-cluster on the
  *    equi-keys and sort by (keys, time) / (keys, start); a single forward
  *    merge pass pairs each point group with its key's interval set. This
  *    removes the broadcast-size ceiling — a fact-sized interval table
  *    (e.g. q113's per-customer SCD2 validity windows) shuffles once on its
  *    key like any big join side, and per-key interval sets bound the
  *    in-memory state (SCD2: the key's version count).
  *
  * Either mode sweeps forward keeping the ACTIVE interval set (started, not
  * yet ended) — the q114 sweep-line as a physical operator: O(|points| +
  * |intervals| + |matches|) comparisons, zero row amplification, state
  * bounded by the maximum interval overlap degree (1 for abutting validity
  * windows). Overlapping intervals are fully supported (each match emitted).
  *
  * Join semantics: inner drops points in no interval (q64's shape);
  * `keepLeft` keeps them with nulls on the right (and a NULL point time
  * also outer-emits); `keepRight` (keyed only) additionally emits every
  * interval that matched NO point, null-padded on the left — intervals in
  * key runs with no point rows stream straight through without buffering,
  * and a finished key group flushes its unmatched intervals (bounded by the
  * per-key interval count). Null-bounded intervals never match (SQL
  * three-valued logic: a NULL range bound fails the ON predicate), so under
  * `keepRight` they emit as unmatched. Like the as-of operator, equi-key
  * matching uses the natural ordering, so NULL keys group together —
  * callers with nullable keys filter them first.
  */
case class IntervalJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightStart: Expression,
    rightEnd: Expression,
    keepLeft: Boolean,
    keepRight: Boolean) extends BinaryNode {

  override def output: Seq[Attribute] =
    (if (keepRight) left.output.map(_.withNullability(true)) else left.output) ++
      (if (keepLeft) right.output.map(_.withNullability(true)) else right.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinPlan =
    copy(left = newLeft, right = newRight)
}

object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoinPlan(l, r, lk, rk, t, s, e, kl, kr) =>
      IntervalJoinExec(lk, rk, t, s, e, kl, kr, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class IntervalJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightStart: Expression,
    rightEnd: Expression,
    keepLeft: Boolean,
    keepRight: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  require(leftKeys.nonEmpty || !keepRight,
    "right/full outer interval join requires equi-keys: the broadcast mode " +
      "replicates intervals to every task, so no task can decide global unmatchedness")

  private def keyed: Boolean = leftKeys.nonEmpty

  override def output: Seq[Attribute] =
    (if (keepRight) left.output.map(_.withNullability(true)) else left.output) ++
      (if (keepLeft) right.output.map(_.withNullability(true)) else right.output)

  // keyless: point side keeps whatever partitioning it has (no exchange —
  // only the in-partition time sort below), interval side broadcast as-is;
  // keyed: SortMergeJoin's co-clustering contract on the equi-keys
  override def requiredChildDistribution: Seq[Distribution] =
    if (keyed) ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
    else UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (keyed) Seq(
      (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
      (rightKeys :+ rightStart).map(SortOrder(_, Ascending)))
    else Seq(Seq(SortOrder(leftTime, Ascending)), Nil)

  // keepRight emissions carry NULL left attributes, so neither the left
  // hash partitioning nor the (keys, time) ordering survives — same rule
  // as SortMergeJoin's full-outer UnknownPartitioning
  override def outputPartitioning: Partitioning =
    if (keepRight) UnknownPartitioning(left.outputPartitioning.numPartitions)
    else left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    if (keepRight) Nil else (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  protected override def doExecute(): RDD[InternalRow] =
    if (keyed) doExecuteKeyed() else doExecuteBroadcast()

  /** One interval: (start, end) keys + the source row + whether any point
    * has matched it (drives `keepRight` unmatched emission).
    */
  private final class Iv(val s: UnsafeRow, val e: UnsafeRow, val row: InternalRow) {
    var matched = false
  }

  /** Shared per-partition sweep state machine: consume time-ordered point
    * rows against a start-ordered interval array, keeping the active set.
    * Used with the whole broadcast interval array (keyless) or one key
    * group's intervals (keyed — the caller swaps `ivs` per group).
    */
  private final class Sweep(tOrd: Ordering[InternalRow]) {
    var ivs: Array[Iv] = Array.empty
    var ptr = 0
    val active = new scala.collection.mutable.ArrayBuffer[Iv]

    def reset(intervals: Array[Iv]): Unit = {
      ivs = intervals; ptr = 0; active.clear()
    }

    /** Advance the active set to point time `t` (admit started, retire
      * ended); the resulting `active` is the match set for `t`.
      */
    def advanceTo(t: UnsafeRow): Unit = {
      while (ptr < ivs.length && tOrd.compare(ivs(ptr).s, t) <= 0) {
        active += ivs(ptr); ptr += 1
      }
      var i = 0
      while (i < active.length) {
        if (tOrd.compare(t, active(i).e) >= 0) active.remove(i) else i += 1
      }
    }
  }

  /** Point-driven emission iterator for the BROADCAST (keyless) mode:
    * after [[Sweep.advanceTo]], either the active set's rows (matchIdx
    * walks it) or — keepLeft only — one null-padded row (matchIdx == -1).
    */
  private def emitIterator(
      lIter: Iterator[InternalRow],
      lOut: Seq[Attribute], rOut: Seq[Attribute],
      lT: UnsafeProjection,
      sweep: Sweep): Iterator[InternalRow] = {
    val joined = new JoinedRow
    // outer: bind against a NULLABLE view of the right attributes — binding
    // takes nullability from the INPUT schema, and a non-nullable right
    // column would codegen without a null check and read garbage from the
    // null-padded row
    val outProj = UnsafeProjection.create(output,
      if (keepLeft) lOut ++ rOut.map(_.withNullability(true)) else lOut ++ rOut)
    val nullRight = InternalRow.fromSeq(Seq.fill(rOut.length)(null))
    val emitUnmatched = keepLeft

    new Iterator[InternalRow] {
      private var lRow: InternalRow = _
      private var matchIdx = 0

      private def advanceLeft(): Boolean = {
        while (lIter.hasNext) {
          lRow = lIter.next()
          val t = lT(lRow)
          if (!t.isNullAt(0)) {
            sweep.advanceTo(t)
            if (sweep.active.nonEmpty) { matchIdx = 0; return true }
            else if (emitUnmatched) { matchIdx = -1; return true }
          } else if (emitUnmatched) { matchIdx = -1; return true }
        }
        false
      }

      override def hasNext: Boolean =
        (lRow != null && (matchIdx == -1 || matchIdx < sweep.active.length)) || advanceLeft()

      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        if (matchIdx == -1) {
          val out = outProj(joined(lRow, nullRight))
          lRow = null
          out
        } else {
          val out = outProj(joined(lRow, sweep.active(matchIdx).row))
          matchIdx += 1
          if (matchIdx >= sweep.active.length) lRow = null
          out
        }
      }
    }
  }

  private def doExecuteBroadcast(): RDD[InternalRow] = {
    val bc = right.executeBroadcast[Array[InternalRow]]()
    val lOut = left.output
    val rOut = right.output
    val lTime = leftTime
    val rStart = rightStart
    val rEnd = rightEnd
    left.execute().mapPartitions({ lIter =>
      val tOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTime.dataType))
      val lT = UnsafeProjection.create(Seq(lTime), lOut)
      val sP = UnsafeProjection.create(Seq(rStart), rOut)
      val eP = UnsafeProjection.create(Seq(rEnd), rOut)
      // materialize (start, end, row) once per partition; drop null-bounded
      // intervals; sort by start so the sweep consumes them in one pass
      val ivs: Array[Iv] = bc.value.iterator
        .map(r => new Iv(sP(r).copy(), eP(r).copy(), r))
        .filterNot(iv => iv.s.isNullAt(0) || iv.e.isNullAt(0))
        .toArray
        .sortWith((a, b) => tOrd.compare(a.s, b.s) < 0)
      val sweep = new Sweep(tOrd)
      sweep.reset(ivs)
      emitIterator(lIter, lOut, rOut, lT, sweep)
    }, preservesPartitioning = true)
  }

  /** KEYED merge (all four join shapes). Both inputs arrive (keys, time)- /
    * (keys, start)-sorted, so each key is a contiguous run on both sides and
    * the pass is a single forward merge:
    *
    *  - a right run with no left rows for its key streams through one row
    *    per `next()` when `keepRight` (never buffered — a fact-sized
    *    interval table whose keys miss the point side costs O(1) memory),
    *    and is skipped wholesale otherwise;
    *  - a key present on both sides buffers THAT KEY's intervals (the
    *    SCD2 bound: its version count), sweeps the key's points through
    *    them, then — `keepRight` — flushes the intervals no point landed in;
    *  - a left row whose key has no interval run outer-emits (`keepLeft`)
    *    or is dropped, without touching the right side.
    */
  private def doExecuteKeyed(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rStart = rightStart
    val rEnd = rightEnd
    val kl = keepLeft
    val kr = keepRight
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val tOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTime.dataType))
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val lT = UnsafeProjection.create(Seq(lTime), lOut)
      val lK = UnsafeProjection.create(lKeys, lOut)
      val rK = UnsafeProjection.create(rKeys, rOut)
      val sP = UnsafeProjection.create(Seq(rStart), rOut)
      val eP = UnsafeProjection.create(Seq(rEnd), rOut)
      val rBuf = rIter.buffered
      val sweep = new Sweep(tOrd)
      val joined = new JoinedRow
      // nullable views on BOTH sides that can be null-padded (the q262
      // nullability-binding lesson, now symmetric)
      val outProj = UnsafeProjection.create(outAttrs,
        (if (kr) lOut.map(_.withNullability(true)) else lOut) ++
          (if (kl) rOut.map(_.withNullability(true)) else rOut))
      val nullRight = InternalRow.fromSeq(Seq.fill(rOut.length)(null))
      val nullLeft = InternalRow.fromSeq(Seq.fill(lOut.length)(null))

      new Iterator[InternalRow] {
        private var curKey: UnsafeRow = null          // key of the loaded group
        private var lRow: InternalRow = _             // left row mid-emission
        private var matchIdx = 0                      // -1 = null-right emission
        private var heldLeft: InternalRow = null      // left row awaiting its group load
        private var draining = false                  // streaming a right-only run
        private var drainBound: UnsafeRow = null      // null = drain to end of rIter
        private var exhausted = false
        // unmatched intervals of a FINISHED group (≤ per-key interval count)
        private val flushQ = scala.collection.mutable.Queue.empty[InternalRow]

        private def closeGroup(): Unit = {
          if (kr) {
            var i = 0
            while (i < sweep.ivs.length) {
              if (!sweep.ivs(i).matched) flushQ += sweep.ivs(i).row
              i += 1
            }
          }
          sweep.reset(Array.empty)
        }

        /** Consume the equal-key right run into the sweep (rows copied —
          * they outlive the buffer). Null-bounded intervals can never
          * match: flushQ them (keepRight) or drop them.
          */
        private def loadGroup(): Unit = {
          val grp = scala.collection.mutable.ArrayBuffer.empty[Iv]
          while (rBuf.hasNext && keyOrd.compare(rK(rBuf.head), curKey) == 0) {
            val r = rBuf.next()
            val s = sP(r).copy(); val e = eP(r).copy()
            if (!s.isNullAt(0) && !e.isNullAt(0)) grp += new Iv(s, e, r.copy())
            else if (kr) flushQ += r.copy()
          }
          sweep.reset(grp.toArray)
        }

        /** Route one left row: match emission, null-right emission, or skip. */
        private def takeLeftRow(row: InternalRow): Unit = {
          val t = lT(row)
          if (!t.isNullAt(0) && sweep.ivs.nonEmpty) {
            sweep.advanceTo(t)
            if (sweep.active.nonEmpty) { lRow = row; matchIdx = 0 }
            else if (kl) { lRow = row; matchIdx = -1 }
          } else if (kl) { lRow = row; matchIdx = -1 }
        }

        /** Single-step state machine; sets lRow / flushQ / draining so one
          * output row is ready, or marks exhaustion. Loops only to skip
          * non-emitting left rows (inner mode) and state handoffs.
          */
        private def ready(): Boolean = {
          while (true) {
            if (lRow != null && (matchIdx == -1 || matchIdx < sweep.active.length)) return true
            lRow = null
            if (flushQ.nonEmpty) return true
            if (draining) {
              if (rBuf.hasNext &&
                  (drainBound == null || keyOrd.compare(rK(rBuf.head), drainBound) < 0)) return true
              draining = false
              if (drainBound == null) { exhausted = true; return false }
            }
            if (heldLeft != null) {
              loadGroup()
              val h = heldLeft; heldLeft = null
              takeLeftRow(h)
            } else if (lIter.hasNext) {
              val cand = lIter.next()
              val k = lK(cand)
              if (curKey != null && keyOrd.compare(k, curKey) == 0) {
                takeLeftRow(cand)
              } else {
                closeGroup()
                curKey = k.copy()
                heldLeft = cand.copy()
                if (kr) { draining = true; drainBound = curKey }
                else {
                  // fast-skip right runs before this key without emitting
                  while (rBuf.hasNext && keyOrd.compare(rK(rBuf.head), curKey) < 0) rBuf.next()
                }
              }
            } else {
              closeGroup()
              if (kr && (flushQ.nonEmpty || rBuf.hasNext)) { draining = true; drainBound = null }
              else { exhausted = true; return false }
            }
          }
          false // unreachable
        }

        override def hasNext: Boolean = !exhausted && ready()

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          if (lRow != null) {
            if (matchIdx == -1) {
              val out = outProj(joined(lRow, nullRight))
              lRow = null
              out
            } else {
              val iv = sweep.active(matchIdx)
              iv.matched = true
              matchIdx += 1
              outProj(joined(lRow, iv.row))
            }
          } else if (flushQ.nonEmpty) {
            outProj(joined(nullLeft, flushQ.dequeue()))
          } else {
            // draining a right-only run: stream, never buffer
            outProj(joined(nullLeft, rBuf.next()))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API for the merge interval join. */
object IntervalJoin {
  /** `points INTERVAL JOIN intervals ON start <= t AND t < end` (inner,
    * keyless — the interval side must be broadcast-sized; the point side
    * never shuffles). The caller must ensure the two plans share no
    * attribute ids.
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
                      pointTime: Column, start: Column, end: Column): DataFrame =
    join(points, intervals, Nil, Nil, pointTime, start, end, "inner")

  /** RANGE-PARTITIONED keyless mode — the third physical shape, for a
    * HIGH-CARDINALITY interval side with NO equi-key (the case the broadcast
    * mode's size ceiling shuts out): equi-depth range buckets are sampled
    * from the point side's time distribution (one bounded quantile pass),
    * each point maps to the single bucket containing its time, each interval
    * replicates to every bucket its span overlaps, and the KEYED merge exec
    * runs unchanged with the bucket id as the equi-key — both sides shuffle
    * ONCE on the bucket id, nothing broadcasts, and per-bucket the sweep is
    * the same O(points + intervals + matches) pass.
    *
    * This is the classic range-join partitioning (points placed by range,
    * intervals replicated across the ranges they straddle); the bucket id IS
    * the range — hash-exchanging on it places each range's rows in one task
    * while staying composable with the existing exec, and replication is
    * bounded by span ∕ bucket-width (equi-depth sizing keeps per-bucket point
    * counts balanced even under time skew). Inner / left only: an interval's
    * replicas straddle buckets, so per-bucket unmatchedness is not global —
    * the same argument that bars right/full in broadcast mode.
    *
    * The sampled boundaries influence PLACEMENT only, never the result: each
    * point lives in exactly one bucket, and every interval containing its
    * time overlaps that bucket (monotone bucket map), so each match is found
    * exactly once, wherever the boundaries fall.
    */
  def joinRangePartitioned(points: DataFrame, intervals: DataFrame,
                           pointTime: Column, start: Column, end: Column,
                           joinType: String = "inner",
                           numBuckets: Int = AutoBuckets): DataFrame = {
    import org.apache.spark.sql.functions._
    val buckets =
      if (numBuckets == AutoBuckets) chooseBucketCount(points)
      else { require(numBuckets > 1, s"numBuckets must exceed 1, got $numBuckets"); numBuckets }
    // right/full decompose over the inner/left core: an interval's replicas
    // straddle buckets, so per-bucket unmatchedness is not global — but the
    // DISTINCT matched-interval set IS, and one anti-join recovers the
    // never-matched intervals (null-padded on the point side). Same result
    // matrix as the keyed exec, still zero broadcasts.
    if (joinType == "right" || joinType == "full")
      return recoverUnmatchedIntervals(points, intervals,
        tagged => joinRangePartitionedCore(points, tagged, pointTime, start, end,
          if (joinType == "full") "left" else "inner", buckets))
    require(joinType == "inner" || joinType == "left",
      s"range-partitioned interval join supports inner|left|right|full, got '$joinType'")
    joinRangePartitionedCore(points, intervals, pointTime, start, end, joinType, buckets)
  }

  /** Sentinel `numBuckets` asking [[joinRangePartitioned]] to measure the
    * point count and size the range buckets itself.
    */
  val AutoBuckets = 0

  /** Target point rows per range bucket in auto mode — a task-sized merge
    * chunk. The bucket count is what bounds a bucket's sweep to one task's
    * memory/time; a FIXED count is wrong in both directions across scales
    * (64 buckets at 100 TB ⇒ ~1.6 TB single-task merges; 64k buckets on a
    * laptop corpus ⇒ quantile-sketch overkill and empty partitions).
    */
  val RangeBucketTargetRows = 2000000L

  /** Auto-mode ceiling: bounds the quantile-boundary array a driver holds
    * and the per-interval replication worst case.
    */
  val MaxRangeBuckets = 65536

  /** Measured bucket count: enough buckets that the average bucket holds
    * [[RangeBucketTargetRows]] points, never fewer than the session's
    * shuffle parallelism (below it, slots idle), never more than
    * [[MaxRangeBuckets]]. One column-pruned count job — the same
    * measure-then-plan pre-pass as [[chooseSaltFactor]], and cheap next to
    * the quantile scan the range mode already pays.
    */
  def chooseBucketCount(points: DataFrame): Int = {
    val parts = points.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val n = points.count()
    val byRows = ((n + RangeBucketTargetRows - 1L) / RangeBucketTargetRows).toInt
    // cap OUTSIDE the parallelism floor: the ceiling bounds the driver-held
    // quantile-boundary array and worst-case per-interval replication, so it
    // must dominate even a session whose shuffle parallelism exceeds it
    math.min(MaxRangeBuckets, math.max(parts, byRows))
  }

  /** Shared right/full recovery for the REPLICATING modes (range-partitioned
    * and salted), where an interval's replicas straddle partitions and no
    * task can decide global unmatchedness: run the inner/left core over a
    * MARKER-tagged interval side, take the DISTINCT matched interval tuples,
    * and anti-join the original interval table against them to emit the
    * never-matched rows null-padded on the point side.
    *
    * The non-nullable marker is load-bearing: under "full" the core
    * left-join's PADDING rows carry an all-NULL interval slice, and a
    * GENUINE interval row whose columns are all NULL would null-safe-equal
    * that tuple and be wrongly suppressed — the marker (NULL exactly on
    * padding rows) keeps padding out of the matched set. Value-equal
    * interval rows have identical keys and bounds and therefore identical
    * matchedness, so the value anti-join stays exact.
    */
  private def recoverUnmatchedIntervals(points: DataFrame, intervals: DataFrame,
      core: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val tagged = intervals.withColumn("__iv_m", lit(1))
    val baseT = core(tagged)
    // positional slice: the core output is points-columns ++ interval-columns ++ marker
    val pLen = points.columns.length
    val iCols = intervals.columns
    val fresh = baseT.toDF(baseT.columns.indices.map(i => s"__c$i"): _*)
    val matched = fresh.filter(col(s"__c${pLen + iCols.length}").isNotNull)
      .select(iCols.indices.map(j => col(s"__c${pLen + j}").as(iCols(j))): _*)
      .distinct()
    // null-safe on every interval column: null-bounded intervals never
    // match and must surface as unmatched, exactly like the keyed exec
    val unmatched = intervals.join(matched,
      iCols.map(c => intervals(c) <=> matched(c)).reduce(_ && _), "left_anti")
    val padded = unmatched.select(
      points.schema.zipWithIndex.map { case (f, i) =>
        lit(null).cast(f.dataType).as(s"__p$i") } ++ iCols.map(col): _*)
    // drop the marker (last column) before the positional union — via the
    // uniquely-renamed frame, then restore the original (possibly
    // duplicated) names
    val base = fresh.select((0 until (pLen + iCols.length)).map(i => col(s"__c$i")): _*)
      .toDF(baseT.columns.take(pLen + iCols.length): _*)
    base.union(padded) // positional: base may carry duplicate names
  }

  private def joinRangePartitionedCore(points: DataFrame, intervals: DataFrame,
                                       pointTime: Column, start: Column, end: Column,
                                       joinType: String,
                                       numBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    // monotone long proxy for BUCKETING only (truncation keeps ≤, which is
    // all the bucket-cover argument needs); the exec still compares the
    // original values exactly
    def proxy(c: Column): Column = c.cast("timestamp").cast("long")
    // bounded-collect: ≤ numBuckets−1 quantile boundaries, one lightweight
    // approx-quantile pass regardless of corpus size; the sketch error must
    // resolve a quarter-bucket once bucket counts grow past 1/0.01 (the
    // fixed default would collapse adjacent boundaries), and balance only
    // affects placement, never results
    val rawBounds = points.select(proxy(pointTime).cast("double").as("__t")).na.drop()
      .stat.approxQuantile("__t",
        (1 until numBuckets).map(_.toDouble / numBuckets).toArray,
        math.min(0.01, 0.25 / numBuckets))
      .map(_.toLong)
    val bounds = rawBounds.distinct.sorted
    // HOT-BUCKET detection, measured for FREE from the quantile pass the
    // mode already pays (the r11 keyed-mode lesson — measure, then split —
    // applied to the keyless mode): equi-depth boundaries flatten any time
    // SKEW, but a point MASS (one proxy value holding ≥ a whole bucket's
    // share) cannot be split by value — it swallows its quantile positions
    // instead, so a value appearing k ≥ 2 times among the raw boundaries
    // holds ≥ (k−1)/numBuckets of all points (mass ≥ (k−1) bucket shares,
    // straggler ratio ≈ k ≥ SaltTriggerRatio) and its bucket would
    // serialize into one task at any scale. Each such bucket fans out
    // k-ways (cap MaxAutoSalts): points by a deterministic whole-row hash,
    // intervals replicated to the k sub-salts of THAT bucket only — cold
    // buckets keep salt 0 and pay zero replication, and a uniform corpus
    // (no duplicate boundaries) takes exactly the unsalted plan,
    // byte-identical (q310's pinned digest is the disarm proof; q335 the
    // armed one).
    val hot: Seq[(Int, Int)] = rawBounds.groupBy(identity).collect {
      case (v, occ) if occ.length >= 2 =>
        (bounds.indexOf(v) + 1, math.min(occ.length, MaxAutoSalts))
    }.toSeq.sortBy(_._1)
    val bArr = array(bounds.map(lit(_)): _*)
    def bucketOf(c: Column): Column =
      (if (bounds.isEmpty) lit(0) else size(filter(bArr, b => b <= proxy(c)))).cast("int")
    val p2base = points.withColumn("__rb_l", bucketOf(pointTime))
    // start ≥ end (incl. NULL bounds) can never match and must not reach the
    // bucket sequence (Spark's sequence(hi, lo) DESCENDS instead of being
    // empty); right/full outer are barred above so dropping them is safe
    val i2base = intervals.filter(start < end)
      .withColumn("__rb_r", explode(sequence(bucketOf(start), bucketOf(end))))
    if (hot.isEmpty)
      join(p2base, i2base, Seq(p2base("__rb_l")), Seq(i2base("__rb_r")),
          pointTime, start, end, joinType)
        .drop("__rb_l", "__rb_r")
    else {
      // deterministic point-side sub-salt: whole-row hash (placement only —
      // colliding duplicates cost balance, never correctness); interval
      // replicas get array(0..k−1) on hot buckets, array(0) elsewhere
      // (array(lit*), never sequence(): the digest-poison lesson)
      val pHash = xxhash64(points.columns.map(points(_)): _*)
      val pSalt = hot.foldLeft(lit(0): Column) { case (els, (b, k)) =>
        when(col("__rb_l") === b, pmod(pHash, lit(k.toLong)).cast("int")).otherwise(els)
      }
      val iSalts = hot.foldLeft(array(lit(0)): Column) { case (els, (b, k)) =>
        when(col("__rb_r") === b, array((0 until k).map(lit): _*)).otherwise(els)
      }
      val p2 = p2base.withColumn("__rb_s", pSalt)
      val i2 = i2base.withColumn("__rb_s", explode(iSalts))
      join(p2, i2, Seq(p2("__rb_l"), p2("__rb_s")), Seq(i2("__rb_r"), i2("__rb_s")),
          pointTime, start, end, joinType)
        .drop("__rb_l", "__rb_r", "__rb_s")
    }
  }

  /** SALTED keyed mode — the hot-key escape hatch (the q146/q48 salting
    * pattern applied to the custom operator): the keyed merge hash-clusters
    * both sides on the equi-keys, so ONE hot entity (a key carrying a large
    * share of the points) serializes into a single task. Salting fans it
    * out: every point gets a deterministic salt from `saltBy` (a
    * high-cardinality point column — e.g. the point's primary key), every
    * interval row replicates to ALL `numSalts` salt values (one explode —
    * interval-side amplification ×numSalts, the usual salting price, paid
    * on the SMALL side), and the merge runs per (key, salt) — each point
    * still meets every interval of its key exactly once, in whichever salt
    * partition the point landed.
    *
    * All four join shapes: inner/left run directly (a point's salt exists on
    * every interval replica, so left-outer emission is per-point local);
    * right/full decompose over the inner/left core exactly like the
    * range-partitioned mode — an interval's replicas straddle salt
    * partitions, so global unmatchedness is recovered by the shared
    * marker + distinct/anti-join pass ([[recoverUnmatchedIntervals]]).
    *
    * `numSalts = AutoSalts` (the default) MEASURES instead of guessing:
    * [[chooseSaltFactor]] profiles the point-side key histogram and arms the
    * salt only when some key's point count actually exceeds a task's share —
    * on a uniform corpus the answer is 1 and the call degrades to the plain
    * keyed [[join]] (no explode, no replication, no `__salt` exchange), so
    * a caller no longer pays ×k interval replication "just in case".
    */
  def joinSalted(points: DataFrame, intervals: DataFrame,
                 leftKeys: Seq[Column], rightKeys: Seq[Column],
                 pointTime: Column, start: Column, end: Column,
                 joinType: String, saltBy: Column,
                 numSalts: Int = AutoSalts): DataFrame = {
    val salts =
      if (numSalts == AutoSalts) chooseSaltFactor(points, leftKeys)
      else { require(numSalts > 1, s"numSalts must exceed 1, got $numSalts"); numSalts }
    if (salts == 1)
      return join(points, intervals, leftKeys, rightKeys,
        pointTime, start, end, joinType)
    if (joinType == "right" || joinType == "full")
      return recoverUnmatchedIntervals(points, intervals,
        tagged => joinSaltedCore(points, tagged, leftKeys, rightKeys,
          pointTime, start, end, if (joinType == "full") "left" else "inner",
          saltBy, salts))
    require(joinType == "inner" || joinType == "left",
      s"salted interval join supports inner|left|right|full, got '$joinType'")
    joinSaltedCore(points, intervals, leftKeys, rightKeys,
      pointTime, start, end, joinType, saltBy, salts)
  }

  /** Sentinel `numSalts` asking [[joinSalted]] to measure the skew and pick
    * the factor itself.
    */
  val AutoSalts = 0

  /** Straggler trigger for [[chooseSaltFactor]]: a key only justifies
    * salting when its point count exceeds this multiple of an average
    * task's share of the rows.
    */
  val SaltTriggerRatio = 1.5

  /** Ceiling on the measured factor — interval replication (the price of
    * salting) grows linearly with it, and past the task count extra salts
    * buy no parallelism.
    */
  val MaxAutoSalts = 64

  /** Measured salt factor for a keyed merge over `points` clustered by
    * `keys` — the consumer of the q165 skew-profile arithmetic. One
    * count-only aggregation pass (map-side combine: only the distinct keys
    * per input partition travel — the cheapest full-data statistic there
    * is) rolled up to a single driver row (bounded collect: 1 row).
    *
    * The decision statistic is the STRAGGLER ratio `max_cnt / (rows /
    * shuffle-partitions)` — the hottest key's share of one task — not the
    * naive key-skew ratio `max_cnt / avg_cnt` the q165 report also prints:
    * a key 4× the average key is irrelevant when every task holds thousands
    * of keys (TPC-H custkey: skew ratio ≈ 4, straggler ratio ≈ 0.1 — no
    * task ever sees a straggler, so salting would pay ×k replication for
    * nothing). This stays correct at any scale because both numerator and
    * denominator grow linearly with the data. Past [[SaltTriggerRatio]] the
    * factor is the ceiling of the ratio — enough salts to split the hot key
    * into roughly task-sized chunks — capped at [[MaxAutoSalts]].
    */
  def chooseSaltFactor(points: DataFrame, keys: Seq[Column],
                       maxSalts: Int = MaxAutoSalts): Int = {
    import org.apache.spark.sql.functions._
    val parts = points.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val row = points.groupBy(keys: _*).agg(count(lit(1)).as("cnt"))
      .agg(max(col("cnt")).as("max_cnt"), sum(col("cnt")).as("n_rows"))
      .head()
    if (row.isNullAt(0) || row.getLong(1) == 0L) return 1
    val ratio = row.getLong(0).toDouble * parts / row.getLong(1).toDouble
    if (ratio <= SaltTriggerRatio) 1
    else math.min(maxSalts, math.ceil(ratio).toInt)
  }

  private def joinSaltedCore(points: DataFrame, intervals: DataFrame,
                             leftKeys: Seq[Column], rightKeys: Seq[Column],
                             pointTime: Column, start: Column, end: Column,
                             joinType: String, saltBy: Column,
                             numSalts: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val pS = points.withColumn("__salt", pmod(xxhash64(saltBy), lit(numSalts.toLong)).cast("int"))
    // array-of-literals, not sequence(): both fold, but sequence() folds to
    // an UnsafeArrayData whose toString is identity-based — a plan-digest
    // snapshot of a salted query would differ every JVM
    val iS = intervals.withColumn("__salt",
      explode(array((0 until numSalts).map(lit(_)): _*)))
    join(pS, iS, leftKeys :+ pS("__salt"), rightKeys :+ iS("__salt"),
        pointTime, start, end, joinType)
      .drop("__salt") // drops BOTH sides' salt columns
  }

  /** Full form: `points [INNER|LEFT|RIGHT|FULL] INTERVAL JOIN intervals ON
    * lk = rk AND start <= t < end`. With keys, both sides hash-cluster
    * (SortMergeJoin's contract — no broadcast-size ceiling); keyless
    * requires the interval side broadcast-sized. `joinType` is one of
    * `"inner" | "left" | "right" | "full"`: left keeps unmatched points
    * (nulls on the right), right keeps unmatched intervals (nulls on the
    * left — keyed mode only), full keeps both.
    */
  def join(points: DataFrame, intervals: DataFrame,
           leftKeys: Seq[Column], rightKeys: Seq[Column],
           pointTime: Column, start: Column, end: Column,
           joinType: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val (keepLeft, keepRight) = joinType match {
      case "inner" => (false, false)
      case "left"  => (true, false)
      case "right" => (false, true)
      case "full"  => (true, true)
      case other => throw new IllegalArgumentException(
        s"interval join type must be inner|left|right|full, got '$other'")
    }
    val spark = points.sparkSession
    graft.GraftExtensions.install(spark)
    val tExpr = GraftSqlBridge.expression(pointTime)
    val sExpr = GraftSqlBridge.expression(start)
    val eExpr = GraftSqlBridge.expression(end)
    val lkExprs = leftKeys.map(GraftSqlBridge.expression)
    val rkExprs = rightKeys.map(GraftSqlBridge.expression)
    // The exec compares t/start/end (and key pairs) with orderings built
    // from the left types, and analysis is bypassed (no implicit coercion),
    // so a type mismatch would be an undiagnosed raw-bits comparison — e.g.
    // NTZ micros vs LTZ micros is only right in a UTC session, and date
    // (Int days) vs timestamp (Long micros) is garbage. Fail fast instead;
    // the caller casts explicitly (see intervalJoinMonthly's
    // timestamp_ntz casts).
    val types = Seq(tExpr, sExpr, eExpr).map(_.dataType)
    require(types.distinct.size == 1,
      s"interval join requires one shared time type; got point=${types(0)}, " +
        s"start=${types(1)}, end=${types(2)} — cast the columns explicitly")
    require(lkExprs.length == rkExprs.length,
      s"interval join key arity mismatch: ${lkExprs.length} vs ${rkExprs.length}")
    require(lkExprs.nonEmpty || !keepRight,
      s"interval join type '$joinType' requires equi-keys (broadcast mode " +
        "cannot decide global unmatchedness)")
    lkExprs.zip(rkExprs).foreach { case (l, r) =>
      require(l.dataType == r.dataType,
        s"interval join key type mismatch: ${l.dataType} vs ${r.dataType} — " +
          "cast the columns explicitly")
    }
    val plan = IntervalJoinPlan(
      points.queryExecution.analyzed, intervals.queryExecution.analyzed,
      lkExprs, rkExprs, tExpr, sExpr, eExpr, keepLeft, keepRight)
    GraftSqlBridge.ofRows(spark, plan)
  }
}
