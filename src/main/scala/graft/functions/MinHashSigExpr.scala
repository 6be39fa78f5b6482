package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** MinHash signature (k seeded portable-hash minima over a shingle
  * array) as a NATIVE kernel call — the ingest-path kernel of
  * the LSH dedup index.
  *
  * The declarative form (`transform(sequence(0,k-1), j ->
  * array_min(transform(sh, s -> hash64(concat(j,':',s)))))`) is a
  * doubly-nested higher-order function: interpreted, k passes over
  * the shingle array, and each of the k·n hash evaluations walks an
  * md5/conv/substring expression tree. At a 100 TB corpus the
  * signature build IS the dedup-index ingest cost; this kernel makes
  * one pass over the shingles, reuses each shingle's UTF-8 bytes
  * across all k seeds, and drives a single thread-local MessageDigest
  * — inside whole-stage codegen.
  *
  * Value contract — bit-for-bit with [[TextFunctions.minhashSignature]]
  * (and the DuckDB oracle): per seed j, the value is
  * `hash64(j || ':' || shingle)` = the first 15 hex chars of
  * md5(UTF-8 bytes) parsed base-16 — computed here as the big-endian
  * first-8-bytes value logically shifted right 4. Null shingle
  * elements hash to null and are ignored (like `array_min`); an empty
  * or all-null shingle array yields k null elements.
  */
object MinHashSigExpr {
  def minhashSig(sh: Column, k: Int): Column = {
    require(k >= 1, s"signature length must be >= 1, got $k")
    column(StaticInvoke(SketchKernels.getClass,
      ArrayType(LongType, containsNull = true), "minhashSig",
      Seq(expression(sh), Literal(k)), Seq(ArrayType(StringType), IntegerType),
      returnNullable = false))
  }
}
