package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** Word-n-gram shingles ("w1 w2 w3" space-joined windows) as a NATIVE
  * kernel call — the fan-out stage of every n-gram operator
  * (minhash signatures, duplicate-span coverage, trigram novelty,
  * vocabulary/top-gram building, cross-split contamination).
  *
  * The declarative form (`transform(sequence(0, size-n), i ->
  * concat_ws(" ", slice(toks, i+1, n)))`) is a higher-order function —
  * CodegenFallback, an interpreted slice allocation plus expression
  * walk per window. This kernel emits the windows in one pass over
  * the token array inside whole-stage codegen.
  *
  * Value contract — identical to the replaced form: windows shorter
  * than n (size < n) yield an EMPTY array; elements join on a single
  * space with nulls skipped (`UTF8String.concatWs`, the same kernel
  * Spark's string-typed `concat_ws` lowers to); output elements are
  * never null.
  */
object ShinglesExpr {
  def shingles(toks: Column, n: Int): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    column(StaticInvoke(SketchKernels.getClass,
      ArrayType(StringType, containsNull = false), "shingles",
      Seq(expression(toks), Literal(n)), Seq(ArrayType(StringType), IntegerType),
      returnNullable = false))
  }
}
