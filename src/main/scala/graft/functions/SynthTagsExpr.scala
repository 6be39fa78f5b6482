package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The SkiFeatures tag-map synthesis as ONE native kernel.
  *
  * Why (round 19): the declarative form — a 27-entry `CreateMap` whose
  * every value is a `when`-cascade over lineitem columns — generated
  * so much Java in the scaffold's whole-stage-codegen span that
  * `processNext()` blew past HotSpot's huge-method JIT limit and the
  * WHOLE stage ran in the bytecode interpreter: adding one filter or
  * field extraction to the span flipped the 6M-row scaffold from
  * 14.5 s to 54-64 s at sf1/local[4] (measured; wholeStage=false
  * "fixed" it at 17 s). The kernel collapses all of it into one small
  * static call, so the span stays JIT-compiled no matter what fuses
  * around it, and the map is built directly (no per-row
  * ArrayBasedMapBuilder dedup hashing).
  *
  * Value contract — pinned by SynthTagsSpec via FULL map equality
  * against the replaced CreateMap form over real table rows: same 27
  * keys in the same order, same null-valued entries for absent tags,
  * null-propagation per branch exactly as the when-cascades (a null
  * input matches no condition and falls to the branch's otherwise —
  * or null when there is none; concat with any null operand → null).
  */
object SynthTagsKernel {

  private val Keys: Array[UTF8String] = Array(
    "piste:type", "piste:abandoned", "proposed:piste:type", "disused",
    "removed", "construction", "piste:difficulty", "piste:grooming",
    "piste:gladed", "gladed", "natural", "landuse", "piste:oneway",
    "oneway", "piste:patrolled", "patrolled", "piste:snowmaking",
    "piste:snowfarming", "tunnel", "piste:lit", "lit", "piste:name",
    "name", "name:xx", "website", "wikidata", "piste:ref")
    .map(UTF8String.fromString)

  private val KeysData = new org.apache.spark.sql.catalyst.util
    .GenericArrayData(Keys.map(_.asInstanceOf[Any]))

  private val Yes = UTF8String.fromString("yes")
  private val No = UTF8String.fromString("no")
  private val Downhill = UTF8String.fromString("downhill")
  private val DownhillNordic = UTF8String.fromString("Downhill;Nordic")
  private val NordicJunk = UTF8String.fromString("nordic;junk")
  private val DisusedS = UTF8String.fromString("disused")
  private val DemolishedS = UTF8String.fromString("demolished")
  private val IgnoredJunk = UTF8String.fromString("ignoredjunk")
  private val Junk = UTF8String.fromString("junk")
  private val ClassicS = UTF8String.fromString("classic")
  private val ClassicSkating = UTF8String.fromString("classic;skating")
  private val Wood = UTF8String.fromString("wood")
  private val Forest = UTF8String.fromString("forest")
  private val Bogus = UTF8String.fromString("bogus")
  private val RfR = UTF8String.fromString("R")
  private val RfA = UTF8String.fromString("A")
  private val Difficulties: Array[UTF8String] =
    graft.operators.SkiFeatures.ValidDifficulties
      .map(UTF8String.fromString).toArray

  // boxed accessors: a null input matches no when-branch
  private def lv(o: Any): Long = o.asInstanceOf[java.lang.Number].longValue()
  private def dv(o: Any): Double =
    o.asInstanceOf[java.lang.Number].doubleValue()
  /** Spark `pmod`: non-negative result, unlike Java %. */
  private def pmod(x: Long, m: Long): Long = { val r = x % m; if (r < 0) r + m else r }

  def eval(ok: Any, pk: Any, sk: Any, ln: Any, qty: Any, disc: Any,
      tax: Any, rf: Any, pname: Any, pbrand: Any): ArrayBasedMapData = {
    val vals = new Array[Any](27)

    val usesRaw: UTF8String =
      if (rf == null) NordicJunk
      else {
        val r = rf.asInstanceOf[UTF8String]
        if (r.equals(RfR)) Downhill
        else if (r.equals(RfA)) DownhillNordic
        else NordicJunk
      }
    val hasLn = ln != null
    val lifecycle = if (hasLn) pmod(lv(ln), 7) else -1
    val pkEven = pk != null && pmod(lv(pk), 2) == 0

    // piste:type (baseVal)
    vals(0) =
      if (lifecycle == 1) null
      else if (lifecycle == 2) DisusedS
      else if (lifecycle == 3 && pkEven) DemolishedS
      else usesRaw
    // piste:abandoned
    vals(1) = if (lifecycle == 0) Yes else null
    // proposed:piste:type
    vals(2) =
      if (lifecycle == 1) usesRaw
      else if (lifecycle == 4) IgnoredJunk
      else null
    // disused
    vals(3) = if (lifecycle == 2) usesRaw else null
    // removed: lifecycle==3 && NOT pkEven — with pk null, NOT(null=0)
    // is null → no match
    vals(4) =
      if (lifecycle == 3 && pk != null && pmod(lv(pk), 2) != 0) Yes else null
    // construction
    vals(5) = if (lifecycle == 5) No else null
    // piste:difficulty: idx 0..6 → names, 7 → bogus, 8 → null
    vals(6) =
      if (qty == null) null
      else {
        val di = pmod(math.floor(dv(qty)).toLong, 9)
        if (di >= 0 && di <= 6) Difficulties(di.toInt)
        else if (di == 7) Bogus
        else null
      }
    // piste:grooming
    vals(7) =
      if (disc == null) null
      else {
        pmod(math.floor(dv(disc) * 100.0).toLong, 5) match {
          case 0L => ClassicS
          case 1L => ClassicSkating
          case 2L => Junk
          case 3L => No
          case _ => null
        }
      }
    val taxPct: java.lang.Long =
      if (tax == null) null
      else java.lang.Long.valueOf(math.floor(dv(tax) * 100.0).toLong)
    // piste:gladed
    vals(8) = if (taxPct != null && taxPct.longValue() == 1) No else null
    // gladed
    vals(9) =
      if (taxPct == null) null
      else {
        val t = taxPct.longValue()
        if (t == 1) Yes
        else if (t >= 5 && t < 7) Yes
        else if (t >= 7 && t < 8) No
        else null
      }
    // natural / landuse
    vals(10) = if (taxPct != null && taxPct.longValue() >= 8) Wood else null
    vals(11) = if (taxPct != null && taxPct.longValue() == 4) Forest else null
    // piste:oneway / oneway
    vals(12) =
      if (sk == null) null
      else pmod(lv(sk), 5) match { case 0L => Yes; case 1L => No; case _ => null }
    vals(13) =
      if (sk == null) null
      else pmod(lv(sk), 3) match { case 0L => Yes; case 1L => No; case _ => null }
    // piste:patrolled / patrolled
    val sup7: java.lang.Long =
      if (sk == null) null else java.lang.Long.valueOf(pmod(lv(sk), 7))
    vals(14) =
      if (sup7 == null) null
      else sup7.longValue() match { case 0L => Yes; case 2L => No; case _ => null }
    vals(15) =
      if (sup7 == null) null
      else sup7.longValue() match { case 1L => No; case 2L => Yes; case _ => null }
    // piste:snowmaking (partkey % 3) / piste:snowfarming (quantity % 4)
    vals(16) =
      if (pk == null) null
      else pmod(lv(pk), 3) match { case 0L => Yes; case 1L => No; case _ => null }
    vals(17) =
      if (qty == null) null
      else pmod(math.floor(dv(qty)).toLong, 4) match {
        case 0L => Yes; case 1L => No; case _ => null }
    // tunnel (orderkey % 11) / piste:lit, lit (orderkey % 13)
    vals(18) =
      if (ok == null) null
      else pmod(lv(ok), 11) match { case 0L => Yes; case 1L => No; case _ => null }
    val ok13: java.lang.Long =
      if (ok == null) null else java.lang.Long.valueOf(pmod(lv(ok), 13))
    vals(19) = if (ok13 != null && ok13.longValue() == 0) Yes else null
    vals(20) = if (ok13 != null && ok13.longValue() == 1) No else null
    // ref = "R" + (partkey % 50); concat(null) → null
    val ref: UTF8String =
      if (pk == null) null
      else UTF8String.fromString("R" + pmod(lv(pk), 50))
    // piste:name = when(pk%4==0, ref || " - " || p_name)
    vals(21) =
      if (pk != null && pmod(lv(pk), 4) == 0 && ref != null && pname != null)
        UTF8String.fromString(
          ref.toString + " - " + pname.asInstanceOf[UTF8String].toString)
      else null
    // name / name:xx straight columns
    vals(22) = pname
    vals(23) = pbrand
    // website / wikidata need way_id = orderkey*10 + linenumber
    val wayId: java.lang.Long =
      if (ok == null || ln == null)
        null // (orderkey*10 + cast) with a null operand → null
      else java.lang.Long.valueOf(lv(ok) * 10 + lv(ln))
    vals(24) =
      if (pk != null && pmod(lv(pk), 5) == 0 && wayId != null)
        UTF8String.fromString("https://example.com/" + wayId)
      else null
    vals(25) =
      if (pk != null && pmod(lv(pk), 7) == 0 && wayId != null)
        UTF8String.fromString("Q" + wayId + ";Q999")
      else null
    // piste:ref
    vals(26) = ref

    new ArrayBasedMapData(KeysData,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
  }
}

/** Not a StaticInvoke: variadic (ten boxed, nullable columns). */
case class SynthTagsExpr(children: Seq[Expression]) extends Expression {
  require(children.length == 10)
  override def dataType: DataType = MapType(StringType, StringType)
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    SynthTagsKernel.eval(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7),
      v(8), v(9))
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cs = children.map(_.genCode(ctx))
    def boxed(c: ExprCode, e: Expression): String = {
      val b = e.dataType match {
        case LongType => s"java.lang.Long.valueOf(${c.value})"
        case IntegerType => s"java.lang.Integer.valueOf(${c.value})"
        case DoubleType => s"java.lang.Double.valueOf(${c.value})"
        case _ => s"${c.value}"
      }
      s"(${c.isNull} ? null : (Object)($b))"
    }
    val args = cs.zip(children).map { case (c, e) => boxed(c, e) }
      .mkString(",\n          ")
    ev.copy(
      code = code"""
        ${cs.map(_.code).mkString("\n")}
        org.apache.spark.sql.catalyst.util.ArrayBasedMapData ${ev.value} =
          graft.functions.SynthTagsKernel.eval(
          $args);
      """,
      isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SynthTagsExpr =
    copy(children = newChildren)
}

object SynthTagsExpr {
  /** (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
    * l_discount, l_tax, l_returnflag, p_name, p_brand) → tags map.
    */
  def synthTags(cols: Column*): Column = {
    require(cols.length == 10)
    GraftExpressionBridge.column(
      SynthTagsExpr(cols.map(GraftExpressionBridge.expression)))
  }
}
