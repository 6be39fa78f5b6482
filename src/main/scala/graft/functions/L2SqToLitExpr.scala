package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Squared L2 distance from a quantized (bigint) vector to a LITERAL
  * double centroid as a NATIVE Catalyst expression.
  *
  * The k-means / IVF / PQ assignment loops evaluate, per row, one
  * distance per centroid via
  * `aggregate(zip_with(q, typedLit(cv), (a, b) => (a.cast(double) - b)
  * * (a.cast(double) - b)), 0.0, _ + _)` — two interpreted
  * higher-order functions and an intermediate array allocation per
  * (row, centroid), k× per row inside `least(...)`, iters× per query.
  * This kernel is one fused loop per (row, centroid) with the centroid
  * shipped as a codegen reference object.
  *
  * Value contract (pinned by L2SqToLitSpec against the replaced fold):
  * left-to-right `acc + (q(i) - c(i))²` — bit-identical float order —
  * and the zip_with/aggregate null algebra: a length mismatch (null
  * padding) or a null element poisons the fold → NULL result.
  *
  * Not a StaticInvoke: a shipped reference object and a boxed-null fold.
  */
case class L2SqToLitExpr(child: Expression, cents: Seq[Double])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"l2sqToLit expects array<bigint>, got $other")
    }

  // the fold yields NULL on any null/length-mismatch, so the output
  // is nullable even for a non-null input array
  override def nullable: Boolean = true

  @transient private lazy val centArr: Array[Double] = cents.toArray

  override protected def nullSafeEval(input: Any): Any =
    L2SqToLitExpr.l2sq(input.asInstanceOf[ArrayData], centArr)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", centArr, "double[]")
    val arr = ctx.freshName("qArr")
    val box = ctx.freshName("boxed")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $arr = $c;
         |Object $box = graft.functions.L2SqToLitExpr.l2sq($arr, $cRef);
         |if ($box == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ((Double) $box).doubleValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): L2SqToLitExpr = copy(child = newChild)
}

object L2SqToLitExpr {
  /** Null (boxed) on length mismatch or null element — the zip_with
    * padding / null-arithmetic algebra of the replaced fold.
    */
  def l2sq(q: ArrayData, c: Array[Double]): java.lang.Double = {
    if (q.numElements() != c.length) return null
    var acc = 0.0
    var i = 0
    while (i < c.length) {
      if (q.isNullAt(i)) return null
      val d = q.getLong(i).toDouble - c(i)
      acc = acc + d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def l2sqToLit(q: Column, cents: Array[Double]): Column =
    GraftExpressionBridge.column(L2SqToLitExpr(
      GraftExpressionBridge.expression(q), cents.toSeq))
}
