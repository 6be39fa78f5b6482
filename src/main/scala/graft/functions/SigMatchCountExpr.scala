package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Position-wise equal-element count of two long arrays (MinHash
  * signature agreement) as a NATIVE kernel.
  *
  * The declarative form —
  * `aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
  * 0, (acc, v) => acc + v)` — evaluates two interpreted higher-order
  * functions and allocates an intermediate array per candidate pair,
  * and (being codegen-incapable) severs the WholeStageCodegen span of
  * the projection after the signature joins. This kernel is one fused
  * loop, no allocation.
  *
  * Value contract (pinned by SigMatchCountSpec): positions beyond the
  * shorter array and positions where either element is null contribute
  * 0 — exactly the replaced form's zip_with null-padding and
  * `when(x === y, …)` null semantics.
  */
object SigMatchCountExpr {
  def matchCount(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) &&
          a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  def sigMatchCount(a: Column, b: Column): Column =
    column(StaticInvoke(SigMatchCountExpr.getClass, IntegerType, "matchCount",
      Seq(expression(a), expression(b)),
      Seq(ArrayType(LongType), ArrayType(LongType)), returnNullable = false))
}
