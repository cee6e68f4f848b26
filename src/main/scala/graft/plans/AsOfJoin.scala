package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}

/** Native as-of join — the whole-operator tier (c) of the custom-operator
  * ladder: a first-class `LogicalPlan` node, an optimizer `Rule`, a planner
  * `SparkStrategy`, and a `SparkPlan` with declared distribution/ordering
  * requirements, installed on every session by
  * [[graft.functions.GraftExtensions]].
  *
  * Semantics (matches `operators/AsOfRangeJoins.asOfLastBefore`, the
  * union+window lowering, and DuckDB's `ASOF JOIN`): for every left row,
  * the LAST right row with the same key and rightTime <= leftTime
  * (inclusive; ties among right rows resolved by `rightTiebreak` order),
  * left-outer — unmatched left rows keep nulls on the right.
  *
  * Scale design: both sides hash-cluster on the key and sort within
  * partitions — ONE shuffle each side, then a streaming per-partition
  * merge with O(1) state (the last build row seen). No window over the
  * union (which carries every probe row through the window sort), no
  * nested-loop fallback. This is the plan a 100 TB as-of wants: the merge
  * never materializes a partition, and partitioning parallelism is the
  * key's cardinality, not the operator's.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression],
    direction: AsOfDirection = AsOfBackward)
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** As-of match direction. All three keep the exec's single-pass,
  * O(1)-state merge — only which candidate wins changes:
  *  - [[AsOfBackward]]: LAST build row with time <= probe time (the
  *    classic as-of; DuckDB default);
  *  - [[AsOfForward]]: FIRST build row with time >= probe time;
  *  - [[AsOfNearest]]: whichever of those two candidates has the smaller
  *    |Δtime|, subject to |Δ| <= toleranceUs (ties resolve backward).
  *    Needs a numeric Δ, so both time expressions must be LongType
  *    (e.g. epoch micros) — enforced at the builder. */
sealed trait AsOfDirection
case object AsOfBackward extends AsOfDirection
case object AsOfForward extends AsOfDirection
final case class AsOfNearest(toleranceUs: Long) extends AsOfDirection

/** Optimizer rule: deterministic predicates that only touch one side's
  * columns are evaluated below the join — the as-of analog of Spark's
  * PushPredicateThroughJoin (right-side pushes are safe because filtering
  * build rows early never changes which of the REMAINING rows is last;
  * a predicate referencing only right columns is part of the build-side
  * definition, same as in the union+window formulation). */
class AsOfFilterPushdown extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoinNode) =>
      val preds = splitConjunctivePredicates(cond)
      val (leftOnly, rest) = preds.partition(p =>
        p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (leftOnly.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(leftOnly.reduce(And), j.left))
        rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

class AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, tb, dir) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb, dir) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression],
    direction: AsOfDirection = AsOfBackward)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Hash-cluster both sides on the key: EnsureRequirements inserts one
    * exchange per side, co-partitioned. */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  /** Sorted merge order: (key, time) on the probe, (key, time, tiebreak)
    * on the build so "last" is deterministic. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++
      (SortOrder(rightTime, Ascending) +: rightTiebreak.map(SortOrder(_, Ascending))))

  /** Probe rows pass through partition-intact. */
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys
    val rk = rightKeys
    val lt = leftTime
    val rt = rightTime
    val out = output
    val dir = direction
    left.execute().zipPartitions(right.execute(), preservesPartitioning = true) {
      (lIter, rIter) =>
        val lKeyProj = UnsafeProjection.create(lk, lOut)
        val rKeyProj = UnsafeProjection.create(rk, rOut)
        val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
        val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
        val keyOrd: Ordering[InternalRow] =
          RowOrdering.createNaturalAscendingOrdering(lk.map(_.dataType))
        val timeOrd: Ordering[InternalRow] =
          RowOrdering.createNaturalAscendingOrdering(Seq(lt.dataType))
        // bind with the right side forced nullable: unmatched probes emit
        // a null row there even when the build schema itself is not
        val result = UnsafeProjection.create(
          out, lOut ++ rOut.map(_.withNullability(true)))
        val nullRight = new GenericInternalRow(rOut.size)
        val joined = new JoinedRow
        val forward = dir == AsOfForward

        // O(1) state: the last build row (copied) at-or-before the
        // current probe time (backward/nearest candidate), plus a one-row
        // lookahead on the build iterator (forward/nearest candidate).
        var pendingRight: InternalRow = null // copied lookahead
        var lastMatch: InternalRow = null // copied last row with rt <= lt
        new Iterator[InternalRow] {
          override def hasNext: Boolean = lIter.hasNext
          override def next(): InternalRow = {
            val l = lIter.next()
            val lKey = lKeyProj(l)
            // Advance the build side: discard rows whose key sorts before
            // ours; consume same-key rows behind our time (into lastMatch
            // for backward/nearest, discarded for forward — a build row
            // strictly behind this probe's time is also behind every later
            // probe's, so forward never needs it again); hold the first
            // row at-or-ahead of us for this and later probes.
            var advancing = true
            while (advancing && (pendingRight != null || rIter.hasNext)) {
              if (pendingRight == null) pendingRight = rIter.next().copy()
              val cmp = keyOrd.compare(rKeyProj(pendingRight), lKey)
              if (cmp < 0) {
                pendingRight = null // behind us: discard
              } else if (cmp == 0 && {
                  val tcmp = timeOrd.compare(rTimeProj(pendingRight), lTimeProj(l))
                  if (forward) tcmp < 0 else tcmp <= 0
                }) {
                lastMatch = pendingRight // already a copy
                pendingRight = null
              } else {
                advancing = false // at-or-ahead of us: hold
              }
            }
            numOutputRows += 1
            val backOk = lastMatch != null &&
              keyOrd.compare(rKeyProj(lastMatch), lKey) == 0
            val fwdOk = pendingRight != null &&
              keyOrd.compare(rKeyProj(pendingRight), lKey) == 0
            val matchRow: InternalRow = dir match {
              case AsOfBackward => if (backOk) lastMatch else null
              case AsOfForward => if (fwdOk) pendingRight else null
              case AsOfNearest(tolUs) =>
                // LongType times (builder-enforced) so |Δ| is well-defined
                val lUs = lTimeProj(l).getLong(0)
                val dBack =
                  if (backOk) lUs - rTimeProj(lastMatch).getLong(0) else Long.MaxValue
                val dFwd =
                  if (fwdOk) rTimeProj(pendingRight).getLong(0) - lUs else Long.MaxValue
                if (dBack <= dFwd && dBack <= tolUs) lastMatch
                else if (dFwd < dBack && dFwd <= tolUs) pendingRight
                else null
            }
            if (matchRow != null) {
              numMatched += 1
              result(joined(l, matchRow))
            } else {
              result(joined(l, nullRight))
            }
          }
        }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {

  /** As-of join `probe` against `build`: for each probe row the last build
    * row with build.timeCol <= probe.timeCol on the same key, left-outer.
    * Build-side columns come back `r_`-prefixed (the builder re-aliases
    * the build side, which also keeps self-as-of-joins unambiguous).
    *
    * Known composition limit (shared by extension logical nodes
    * generally): feeding the result AND another plan over the SAME source
    * relation into one set operation makes the analyzer's
    * DeduplicateRelations re-analyze the foreign node, which it cannot
    * fully rewrite. Re-read the source (separate lineage) or insert
    * `.localCheckpoint()` before such a union/except. Ordinary downstream
    * operators (project/filter/agg/join/sort/write) compose fine. */
  def lastBefore(
      probe: DataFrame,
      build: DataFrame,
      keys: Seq[String],
      probeTime: String,
      buildTime: String,
      buildTiebreak: Seq[String] = Nil): DataFrame =
    joinWithDirection(probe, build, keys, probeTime, buildTime,
      buildTiebreak, AsOfBackward)

  /** Forward as-of: for each probe row the FIRST build row with
    * build.timeCol >= probe.timeCol on the same key, left-outer ("first
    * quote at or after the trade"). Same plan shape as [[lastBefore]] —
    * one shuffle+sort per side, O(1)-state merge. */
  def firstAfter(
      probe: DataFrame,
      build: DataFrame,
      keys: Seq[String],
      probeTime: String,
      buildTime: String,
      buildTiebreak: Seq[String] = Nil): DataFrame =
    joinWithDirection(probe, build, keys, probeTime, buildTime,
      buildTiebreak, AsOfForward)

  /** Nearest-within-tolerance as-of: for each probe row, whichever of the
    * last-at-or-before / first-at-or-after build rows has the smaller
    * |Δtime|, provided |Δ| <= toleranceUs; ties resolve backward;
    * left-outer. Both time columns must be LongType (e.g. epoch micros) —
    * |Δ| needs numeric subtraction. */
  def nearest(
      probe: DataFrame,
      build: DataFrame,
      keys: Seq[String],
      probeTimeUs: String,
      buildTimeUs: String,
      toleranceUs: Long,
      buildTiebreak: Seq[String] = Nil): DataFrame = {
    def isLong(df: DataFrame, c: String) =
      df.schema.fields.exists(f => f.name == c &&
        f.dataType == org.apache.spark.sql.types.LongType)
    require(isLong(probe, probeTimeUs) && isLong(build, buildTimeUs),
      s"asof nearest needs LongType time columns ($probeTimeUs, $buildTimeUs)")
    joinWithDirection(probe, build, keys, probeTimeUs, buildTimeUs,
      buildTiebreak, AsOfNearest(toleranceUs))
  }

  private def joinWithDirection(
      probe: DataFrame,
      build: DataFrame,
      keys: Seq[String],
      probeTime: String,
      buildTime: String,
      buildTiebreak: Seq[String],
      direction: AsOfDirection): DataFrame = {
    val spark = probe.sparkSession
    val lp = probe.queryExecution.analyzed
    // fresh exprIds + r_ prefix on the build side: output names stay
    // unambiguous and probe/build may share a lineage (self as-of)
    val rAnalyzed = build.queryExecution.analyzed
    val rp = Project(
      rAnalyzed.output.map(a => Alias(a, s"r_${a.name}")()), rAnalyzed)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in [${plan.output.map(_.name).mkString(", ")}]"))
    val node = AsOfJoinNode(
      lp, rp,
      keys.map(attr(lp, _)), keys.map(k => attr(rp, s"r_$k")),
      attr(lp, probeTime), attr(rp, s"r_$buildTime"),
      buildTiebreak.map(t => attr(rp, s"r_$t")),
      direction)
    org.apache.spark.sql.classic.GraftDatasetShim.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], node)
  }
}
