package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** PHYSICAL as-of join — the (c)-tier completed: a custom `SparkPlan`
  * selected by [[AsOfJoinStrategy]] for graft's [[AsOfJoinPlan]]
  * logical node, instead of lowering it to Join + Window.
  *
  * Why a physical operator earns its keep here: the lowered form
  * materializes EVERY (left row, earlier right row) pair and then
  * keeps rank 1 — O(Σ per-key matches) intermediate rows, quadratic
  * per key when most right rows precede most left times (a year of
  * quotes before each trade). This operator asks the planner for both
  * children clustered on the key and sorted by (key, time) — paying
  * the same single shuffle the join would — and then streams BOTH
  * sorted partitions through one O(n+m) merge scan holding ONE
  * candidate row: no pair blowup, no window, no row buffering beyond
  * the candidate.
  *
  * Semantics are identical to the lowered form (AsOfSpec property-
  * checks them against each other): each left row emits exactly once;
  * the matched right row is the one with the greatest
  * `rightTime <= leftTime` among equal keys, ties on time broken by
  * the greatest right tuple; null keys and null times never match.
  * The merge realizes the tie-break by sorting right ascending on
  * (key, time, full tuple) and letting the LAST qualifying row win.
  *
  * EnsureRequirements inserts the exchanges/sorts that satisfy
  * `requiredChildDistribution`/`Ordering` — the operator composes
  * with AQE and reuses any existing layout (bucketed/bucket-sorted
  * children plan with zero exchanges, which no lowering via
  * row_number could exploit as directly).
  */
final case class AsOfMergeJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // right orders by the FULL tuple after (key, time): the merge keeps
  // the last qualifying row, which is then the greatest (time, tuple)
  // — the documented tie-break. (Unorderable payload types — maps —
  // are unsupported, exactly as in the window lowering, which sorts
  // by the same columns.)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    SortOrder(rightKey, Ascending) +: SortOrder(rightTime, Ascending) +:
      right.output
        .filterNot(a => a.semanticEquals(rightKey) || a.semanticEquals(rightTime))
        .map(a => SortOrder(a, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val (lk, rk, lt, rt) = (leftKey, rightKey, leftTime, rightTime)
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val lKeyProj = UnsafeProjection.create(Seq(lk), lOut)
      val rKeyProj = UnsafeProjection.create(Seq(rk), rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lk.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lt.dataType))
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      // rHead is valid until the next ri.next() call (sorter-iterator
      // row-reuse contract) — it is only ever replaced, never held
      // across an advance; the candidate IS held across rows → copy
      var rHead: InternalRow = if (ri.hasNext) ri.next() else null
      var candidate: InternalRow = null
      var candidateKey: InternalRow = null
      def advance(): Unit = rHead = if (ri.hasNext) ri.next() else null
      li.map { l =>
        val lKeyBuf = lKeyProj(l)
        if (lKeyBuf.anyNull) joined(l, nullRight)
        else {
          if (candidate != null && keyOrd.compare(candidateKey, lKeyBuf) != 0) {
            candidate = null; candidateKey = null
          }
          // skip right rows that can never match any remaining left
          // row: null keys, keys before lKey, equal-key null times
          // (nulls-first: they precede every real time of the key)
          var scanning = true
          while (scanning && rHead != null) {
            val rKeyBuf = rKeyProj(rHead)
            val cmp = if (rKeyBuf.anyNull) -1 else keyOrd.compare(rKeyBuf, lKeyBuf)
            if (cmp < 0 || (cmp == 0 && rTimeProj(rHead).anyNull)) advance()
            else scanning = false
          }
          val lTimeBuf = lTimeProj(l)
          if (!lTimeBuf.anyNull) {
            var consuming = true
            while (consuming && rHead != null) {
              val rKeyBuf = rKeyProj(rHead)
              if (!rKeyBuf.anyNull && keyOrd.compare(rKeyBuf, lKeyBuf) == 0 &&
                  timeOrd.compare(rTimeProj(rHead), lTimeBuf) <= 0) {
                candidate = rHead.copy()
                candidateKey = lKeyBuf.copy()
                advance()
              } else consuming = false
            }
          }
          joined(l, if (candidate != null) candidate else nullRight)
        }
      }
    }
  }
}

/** Optimizer-tier rule for the physical path: LEFT-side predicates
  * push through the as-of node to the left child, so they reach the
  * scan instead of stopping at the custom operator (an unknown
  * logical node is otherwise an optimization BARRIER — the one real
  * cost of declaring an operator Catalyst doesn't know). Sound
  * because every left row joins independently: dropping a left row
  * early cannot change any other row's match. Right-side predicates
  * must NOT push — filtering right rows before the join changes which
  * row is "latest" (filter-then-match ≠ match-then-filter).
  * Registered by `GraftExtensions` (injectOptimizerRule); sessions
  * without the extension plan the node unpushed. */
object AsOfJoinPushdown extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with PredicateHelper {
  import org.apache.spark.sql.catalyst.plans.logical.Filter
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, a: AsOfJoinPlan) =>
      val (push, keep) = splitConjunctivePredicates(cond).partition(c =>
        c.deterministic && c.references.subsetOf(a.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = a.copy(left = Filter(push.reduce(And), a.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Planner strategy mapping the logical as-of node to the merge
  * operator. Registered by `GraftExtensions`, or appended once by
  * `AsOfJoinPlan.asofJoinPhysical` on a session without it; the
  * lowered form (`asofJoin`) never presents the node, so the strategy
  * is a no-op there. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case a: AsOfJoinPlan =>
      AsOfMergeJoinExec(a.leftKey, a.rightKey, a.leftTime, a.rightTime,
        planLater(a.left), planLater(a.right)) :: Nil
    case _ => Nil
  }
}
