package graft.functions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.sql.functions._

/** Embedding-vector kernels. The declarative dot product
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is a higher-order
  * function — CodegenFallback — and sits in the hottest loop of the
  * ANN queries (the brute-force baseline evaluates it corpus × query
  * times). [[dot]] is one static call into a tight JVM loop
  * ([[VectorKernels.dot]]) and keeps the surrounding stage in
  * whole-stage codegen.
  *
  * Bit-compatibility: the kernel accumulates `acc + a(i)·b(i)` left to
  * right — exactly the old fold's float op order — so every ANN oracle
  * hash is unchanged (`dot(v, v)` likewise reproduces the norm fold's
  * `acc + x·x`).
  */
object VectorFunctions {

  def dot(a: Column, b: Column): Column = {
    import GraftExpressionBridge.{column, expression}
    column(StaticInvoke(VectorKernels.getClass, DoubleType, "dot",
      Seq(expression(a), expression(b)),
      Seq(ArrayType(DoubleType), ArrayType(DoubleType)),
      returnNullable = false))
  }

  /** √(v·v) with the same element order as the former norm fold. */
  def norm(v: Column): Column = sqrt(dot(v, v))
}

/** Static kernel target for generated code. */
object VectorKernels {
  /** Left-to-right `acc + a(i)·b(i)` over min(len) elements — the
    * zip_with+aggregate fold's exact semantics (zip_with pads with
    * null on length mismatch; the embeddings are fixed-width so the
    * min-length contract never differs in practice). Null elements
    * contribute 0 instead of NPE-ing on a legal `array<double>` with
    * null entries (a GenericArrayData element unboxes null).
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i))
        acc = acc + a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }
}
