package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** `graft_in_range(t, lo, hi, bin)` — true when `lo <= t <= hi`
  * (inclusive both ends, SQL BETWEEN semantics); all four arguments
  * BIGINT. `bin` is planner metadata, not part of the predicate: the
  * bin width (> 0, foldable) [[graft.plans.IntervalJoinRule]] uses to
  * rewrite a `JOIN ... ON graft_in_range(...)` from the nested-loop
  * plan Spark gives a non-equi range condition into a binned
  * equi-join: the interval side explodes into its covered bins, the
  * point side maps to its one bin, the join runs on bin equality, and
  * this same predicate (with `refined = true`, which stops the rule
  * re-firing) filters in-bin false positives exactly.
  *
  * Pick `bin` near the typical interval width: each interval explodes
  * into width/bin + 1 rows, and each bin's population bounds the
  * equi-join's per-key work — same trade as the distance rule's grid
  * cells, one dimension down. Standalone (scalar context, OR-branch,
  * non-inner join) the expression simply evaluates; only the planner
  * shape changes when the rule applies.
  *
  * Not a StaticInvoke: [[graft.plans.IntervalJoinRule]] matches on it.
  */
case class InRangeExpr(
    t: Expression,
    lo: Expression,
    hi: Expression,
    bin: Expression,
    refined: Boolean = false)
  extends Expression {

  override def children: Seq[Expression] = Seq(t, lo, hi, bin)
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_in_range expects 4 bigint arguments, got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = Seq(t, lo, hi).exists(_.nullable)
  override def prettyName: String = "graft_in_range"

  override def eval(input: InternalRow): Any = {
    val tv = t.eval(input); val lv = lo.eval(input); val hv = hi.eval(input)
    if (tv == null || lv == null || hv == null) null
    else {
      val x = tv.asInstanceOf[Long]
      lv.asInstanceOf[Long] <= x && x <= hv.asInstanceOf[Long]
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val te = t.genCode(ctx); val le = lo.genCode(ctx); val he = hi.genCode(ctx)
    ev.copy(code = code"""
      ${te.code}
      ${le.code}
      ${he.code}
      boolean ${ev.isNull} =
        ${te.isNull} || ${le.isNull} || ${he.isNull};
      boolean ${ev.value} = false;
      if (!${ev.isNull}) {
        ${ev.value} = ${le.value} <= ${te.value} &&
          ${te.value} <= ${he.value};
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): InRangeExpr =
    copy(t = newChildren(0), lo = newChildren(1), hi = newChildren(2),
      bin = newChildren(3))
}
