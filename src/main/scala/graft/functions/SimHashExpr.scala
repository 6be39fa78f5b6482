package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** 32-bit SimHash majority vote over a pre-computed token-hash array
  * as a NATIVE kernel call.
  *
  * The declarative form (aggregate over sequence(0,31) of an inner
  * aggregate over the hash array) is doubly interpreted — O(32·n)
  * lambda evaluations per document. This kernel makes ONE pass over
  * the array, accumulating all 32 bit counters, inside whole-stage
  * codegen.
  *
  * Value contract (bit-for-bit with the replaced expression tree):
  * per bit b, each element votes +1 if bit b is set, −1 otherwise;
  * the result sets bit b iff the vote sum is strictly positive. A
  * null element votes −1 on every bit — exactly what the declarative
  * `when(cond, 1).otherwise(-1)` did with a null condition — which is
  * the same as hashing to 0. An empty array yields 0.
  */
object SimHash32Expr {
  def simhash32(hashes: Column): Column =
    column(StaticInvoke(SketchKernels.getClass, LongType, "simhash32",
      Seq(expression(hashes)), Seq(ArrayType(LongType)),
      returnNullable = false))
}
