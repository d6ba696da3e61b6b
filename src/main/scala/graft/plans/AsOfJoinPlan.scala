package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical._

/** As-of join as a first-class Catalyst LOGICAL OPERATOR — the
  * (c)-tier extension path of the build rules (custom `LogicalPlan` +
  * planner strategy via `SparkSessionExtensions`), for the one
  * whole-operator semantic Spark lacks (SURVEY.md §2.5 note;
  * `operators/AsOf` is the (a)-tier composed form of the same
  * operator).
  *
  * `AsOfJoinPlan` declares WHAT (each left row + the latest right row
  * with rightTime ≤ leftTime per key). It has two plans. `asofJoin`
  * lowers it eagerly (`lower`) to relational algebra Catalyst can
  * optimize — Join(LeftOuter) + Window(row_number over per-left-row
  * id) + Filter + Project — so every downstream Catalyst phase
  * (pushdown, join planning, AQE) sees ordinary operators.
  * `asofJoinPhysical` leaves it standing for [[AsOfJoinStrategy]] to
  * plan as the O(n+m) merge operator (`AsOfMergeJoinExec`). The
  * lowering reuses the SAME determinism contract as `AsOf.asofJoin`: a
  * unique left-row id keys the window (duplicate left rows both
  * survive) and right-time ties break on the greatest right-column
  * tuple.
  *
  * Scale: the lowered plan shuffles both sides once on the key; the
  * physical alternative is picked by a `SparkStrategy` without
  * touching user code — exactly why the operator is declared
  * logically.
  */
final case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinPlan {

  /** The node as Join(LeftOuter) + Window + Filter + Project. */
  private[graft] def lower(a: AsOfJoinPlan): LogicalPlan = {
    // per-left-row id: the window partition key, so fully identical
    // left rows each emit one output row
    val lid = Alias(MonotonicallyIncreasingID(), "__asof_lid")()
    val taggedLeft = Project(a.left.output :+ lid, a.left)
    val joined = Join(taggedLeft, a.right, LeftOuter,
      Some(And(EqualTo(a.leftKey, a.rightKey),
        LessThanOrEqual(a.rightTime, a.leftTime))),
      JoinHint.NONE)
    // latest right row first; ties on rightTime break on the greatest
    // right tuple (deterministic given right's data)
    val ordering =
      SortOrder(a.rightTime, Descending, NullsLast, Seq.empty) +:
        a.right.output.map(c => SortOrder(c, Descending, NullsLast, Seq.empty))
    val frame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)
    val rn = Alias(
      WindowExpression(RowNumber(),
        WindowSpecDefinition(Seq(lid.toAttribute), ordering, frame)),
      "__asof_rn")()
    val windowed = Window(Seq(rn), Seq(lid.toAttribute), ordering, joined)
    val filtered = Filter(EqualTo(rn.toAttribute, Literal(1)), windowed)
    Project(a.left.output ++ a.right.output, filtered)
  }

  /** DataFrame entry point for the lowered (Join + Window) form.
    * Works on any session: the node is lowered eagerly here. */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column): DataFrame =
    GraftExpressionBridge.dataFrame(left.sparkSession,
      lower(node(left, right, leftKey, rightKey, leftTime, rightTime)))

  /** Physical-path entry: build the RAW node (no lowering) so the
    * planner's [[AsOfJoinStrategy]] turns it into the sorted-merge
    * operator. `GraftSession` sessions carry the strategy through
    * `GraftExtensions`; on any other session (a plain one, or the
    * benchmark harness's) the strategy is appended once to
    * `spark.experimental.extraStrategies`, so a session that already
    * plans it is never mutated. */
  def asofJoinPhysical(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column): DataFrame = {
    val spark = left.sparkSession
    if (!spark.sessionState.planner.strategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    GraftExpressionBridge.dataFrame(spark,
      node(left, right, leftKey, rightKey, leftTime, rightTime))
  }

  private def node(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column): AsOfJoinPlan =
    AsOfJoinPlan(
      GraftExpressionBridge.logicalPlan(left),
      GraftExpressionBridge.logicalPlan(right),
      resolve(left, leftKey), resolve(right, rightKey),
      resolve(left, leftTime), resolve(right, rightTime))

  private def resolve(df: DataFrame, c: Column): Expression =
    GraftExpressionBridge.expressionEager(c) match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        df.queryExecution.analyzed
          .resolve(u.nameParts,
            org.apache.spark.sql.catalyst.analysis.caseInsensitiveResolution)
          .getOrElse(throw new IllegalArgumentException(s"cannot resolve $c"))
      case e => e
    }
}
