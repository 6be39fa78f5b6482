package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count of tokens contained in a fixed vocabulary (WITH multiplicity
  * — `array_intersect` would dedupe) as a NATIVE kernel call.
  *
  * The declarative form (`size(filter(toks, t -> t.isin(vocab)))`) is
  * an interpreted higher-order function walking an In-list per
  * element; the language-ID confusion matrix evaluates it once per
  * candidate language per document. This kernel is one pass over the
  * token array against a hash set shipped as an object-typed literal
  * (a codegen reference object).
  *
  * Value contract: null elements are not hits (isin(null) is null →
  * filtered out), so counts match the replaced form exactly.
  */
object VocabHitsExpr {
  def vocabHits(toks: Column, vocab: Seq[String]): Column = {
    val set = new java.util.HashSet[UTF8String](vocab.size * 2)
    vocab.foreach(w => set.add(UTF8String.fromString(w)))
    column(StaticInvoke(SketchKernels.getClass, IntegerType, "vocabHits",
      Seq(expression(toks), Literal(set, ObjectType(set.getClass))),
      Seq(ArrayType(StringType), ObjectType(set.getClass)),
      returnNullable = false))
  }
}
