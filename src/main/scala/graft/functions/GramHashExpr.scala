package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** Rolling K-character-gram portable hashes over a string as a NATIVE
  * kernel call — the sketching front half of the winnowing
  * dedup (its fingerprints are `hash32(substr(text, i, K))` for every
  * position i).
  *
  * The declarative form (`transform(sequence(1, length-K+1),
  * i -> hash32(substr(text, i, K)))`) is an interpreted lambda whose
  * every element allocates a substring copy and walks an
  * md5/conv/substring expression tree. This kernel walks the UTF-8
  * byte array once, precomputes per-code-point byte offsets, and
  * digests each gram's byte RANGE directly — no string copies —
  * with a thread-local MessageDigest.
  *
  * Value contract — bit-for-bit with the replaced form: positions and
  * gram boundaries count CODE POINTS (Spark's `length`/`substr`
  * semantics on strings); each value is the first 8 md5 hex chars of
  * the gram's UTF-8 bytes parsed base-16 (= big-endian first-4-bytes,
  * zero-extended). Inputs shorter than K code points yield an empty
  * array.
  */
object GramHashExpr {
  def gramHashes(text: Column, k: Int): Column = {
    require(k >= 1, s"gram width must be >= 1, got $k")
    column(StaticInvoke(SketchKernels.getClass,
      ArrayType(LongType, containsNull = false), "gramHashes",
      Seq(expression(text), Literal(k)), Seq(StringType, IntegerType),
      returnNullable = false))
  }
}
