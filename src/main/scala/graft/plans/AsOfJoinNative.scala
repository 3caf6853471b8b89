package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the whole-operator Catalyst extension route
  * (logical node → planner strategy → physical exec), for the one
  * relational operator Spark ships no physical algorithm for, and the
  * library's only as-of join (`operators.AsOfJoin.asof` builds it). The
  * node executes the textbook sort-merge as-of directly:
  *
  *  - each child is hash-clustered on its key and sorted by (key, time) —
  *    declared via requiredChildDistribution/Ordering, so EnsureRequirements
  *    plans the exchanges and sorts exactly as it would for a sort-merge
  *    join (co-partitioned children, AQE-coalescible shuffles);
  *  - one streaming merge pass per partition: for every left row, the
  *    latest right row of the same key with right.time <= left.time is in
  *    hand when the left row streams by — O(|L|+|R|) per partition, zero
  *    buffering beyond ONE candidate payload per key.
  *
  * Semantics: ties (right.time == left.time) match; null keys and null
  * times NEVER match (SQL ASOF semantics); `inner` drops matchless left
  * rows. Among right rows EQUAL on (key, time) the last in partition
  * sort order wins — which specific row that is, is unspecified, exactly
  * as in SQL ASOF; callers needing a
  * deterministic pick must make (key, time) unique or fold the
  * tiebreaker into the time column.
  *
  * Reference behavior source: plenario-mapper resolves each observation
  * against the metadata version current at observation time
  * (app/mapper.js:72-112) — an as-of lookup.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression,
    rightPayload: Seq[Attribute], inner: Boolean)
  extends BinaryNode {
  // widen, never narrow: an outer join adds nulls for matchless rows, but
  // a MATCHED right row can still carry a legitimately-null payload value
  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(a =>
      a.withNullability(a.nullable || !inner))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Pushes left-side Filter predicates through [[AsOfJoinPlan]] — Catalyst
  * cannot reason about an unknown node, so without this rule a filter
  * above the as-of stays above it and the left scan reads (and shuffles)
  * rows the query immediately drops. Safe because each output row
  * corresponds to exactly one left row and removing left rows never
  * changes any other row's match; predicates touching the right payload
  * stay above the node. Registered alongside [[AsOfJoinStrategy]]
  * (injectOptimizerRule / experimental.extraOptimizations). */
object PushFilterThroughAsOf
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
  with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.And
  import org.apache.spark.sql.catalyst.plans.logical.Filter
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, a: AsOfJoinPlan) =>
      val (pushable, kept) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic &&
          p.references.subsetOf(a.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = a.copy(left = Filter(pushable.reduce(And), a.left))
        if (kept.isEmpty) pushed else Filter(kept.reduce(And), pushed)
      }
  }
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]. Registered through
  * `GraftExtensions` (injectPlannerStrategy), which `graft.Engine.builder`
  * configures as spark.sql.extensions. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(p.leftKey, p.leftTime, p.rightKey, p.rightTime,
        p.rightPayload, p.inner, planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression,
    rightPayload: Seq[Attribute], inner: Boolean,
    left: SparkPlan, right: SparkPlan)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(a =>
      a.withNullability(a.nullable || !inner))

  // co-partition both children on their key, SMJ-style; EnsureRequirements
  // inserts compatible exchanges (and AQE may coalesce them in lockstep)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  // rows stream out in left-child order, one output row per (kept) left row
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  /** Buffer-backed evals (UTF8String, UnsafeArrayData, nested UnsafeRow,
    * …) point into the reused row buffer — deep-copy before caching
    * across iterator steps. `InternalRow.copyValue` handles every
    * buffer-backed catalyst type; primitives pass through. */
  private def detach(v: Any): Any = InternalRow.copyValue(v)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val lTimeB = BindReferences.bindReference(leftTime, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val rTimeB = BindReferences.bindReference(rightTime, right.output)
    // widen to Expression BEFORE binding: bindReference returns its input
    // type, and a BoundReference is not an Attribute
    val payloadExprs: Seq[Expression] =
      rightPayload.map(a => BindReferences.bindReference(a: Expression, right.output))
    val innerL = inner
    val out = output
    val leftOut = left.output
    val payloadAttrs = rightPayload
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val payloadProj = UnsafeProjection.create(payloadExprs)
      // bind against WIDENED payload nullability: BoundReference takes its
      // null-check from the INPUT schema, and in outer mode the all-null
      // fill row must pass through even when the right column itself is
      // non-nullable (else a long payload silently becomes 0 and a string
      // payload NPEs in the row writer)
      val resultProj = UnsafeProjection.create(out,
        leftOut ++ payloadAttrs.map(a =>
          a.withNullability(a.nullable || !innerL)))
      val nullPayload = new GenericInternalRow(payloadAttrs.length)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // the single buffered candidate: latest right row seen for candKey
      var candKey: Any = null
      var cand: InternalRow = null
      lIter.flatMap { lRow =>
        val lk = lKeyB.eval(lRow)
        val lt = lTimeB.eval(lRow)
        if (lk == null || lt == null) {
          if (innerL) Iterator.empty
          else Iterator.single(resultProj(joined(lRow, nullPayload)))
        } else {
          // advance the right side to the frontier (key < lk, or same key
          // with time <= lt), keeping the latest same-key payload
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rRow = rBuf.head
            val rk = rKeyB.eval(rRow)
            val rt = rTimeB.eval(rRow)
            if (rk == null || rt == null) rBuf.next() // never matches
            else {
              val kc = keyOrd.compare(rk, lk)
              if (kc < 0) rBuf.next() // bygone key; candidate invalidated below
              else if (kc == 0 && timeOrd.compare(rt, lt) <= 0) {
                candKey = detach(rk)
                cand = payloadProj(rBuf.next()).copy()
              } else advancing = false // right frontier is past this left row
            }
          }
          val matched = cand != null && candKey != null &&
            keyOrd.compare(candKey, lk) == 0
          if (matched) Iterator.single(resultProj(joined(lRow, cand)))
          else if (innerL) Iterator.empty
          else Iterator.single(resultProj(joined(lRow, nullPayload)))
        }
      }
    }
  }
}
