package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Unevaluable}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType,
  TimestampNTZType, TimestampType}

/** `graft_asof_match(leftTime, rightTime[, toleranceMicros])` — the
  * SQL marker for an AS-OF join: inside an (inner or LEFT) equi-join
  * condition it declares "match each left row to the single NEWEST
  * right row with rightTime <= leftTime (within the optional
  * tolerance)", and [[graft.plans.AsofJoinRule]] converts the whole
  * join into the native [[graft.plans.AsofJoinPlan]].
  *
  * Deliberately [[Unevaluable]]: evaluated as a plain predicate it
  * would mean `rightTime <= leftTime` — EVERY prior row, not the
  * newest one — so letting it fall through to a normal join would
  * silently change cardinality. If the rule cannot lift it (marker
  * under OR, no equi-conjunct, wrong join type, non-literal
  * tolerance), planning fails with Spark's standard unevaluable
  * error naming this function, instead of returning wrong rows.
  *
  * Not a StaticInvoke: [[graft.plans.AsofJoinRule]] matches on it.
  */
case class AsofMatchExpr(
    leftTime: Expression,
    rightTime: Expression,
    tolerance: Option[Expression])
  extends Expression with Unevaluable {

  override def children: Seq[Expression] =
    Seq(leftTime, rightTime) ++ tolerance

  private def timeOk(e: Expression): Boolean = e.dataType match {
    case TimestampType | TimestampNTZType | LongType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (timeOk(leftTime) && timeOk(rightTime) &&
      tolerance.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_asof_match expects (time, time[, bigint tolerance]) with " +
        "TIMESTAMP/TIMESTAMP_NTZ/BIGINT times, got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_asof_match"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AsofMatchExpr =
    copy(leftTime = newChildren(0), rightTime = newChildren(1),
      tolerance = if (newChildren.length > 2) Some(newChildren(2)) else None)
}
