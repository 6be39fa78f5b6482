package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A formatter's whole tag cascade as one single-pass kernel: an object
  * whose `eval` reads the tag map once ([[OsmTags.Layout.read]]) and
  * computes every output with [[OsmTags]]' rules. [[RunTagsExpr]] calls
  * `eval` statically from generated code.
  */
trait TagKernel extends Serializable {
  /** The expression name plans print. */
  def name: String
  def schema: StructType
  /** Whether `eval` returns null, for a feature the formatter drops. */
  def nullable: Boolean
  def eval(tags: MapData): InternalRow
}

/** The ENTIRE run-formatter tag cascade (Formatters.formatRuns tag
  * semantics — SURVEY P1/P7-P10) as ONE native kernel doing a single
  * pass over the tag map.
  *
  * Why (round 19): the declarative formatter was the most expensive
  * expression tree in the engine, ~80 µs/row over the 6M-row sf1
  * scaffold — interpreted `map_filter`/`array_sort` lambdas, a regex
  * compiled per row for the ref strip, and ~30 linear `element_at`
  * probes of the 27-entry map — and every ski query pays this scaffold.
  *
  * Value contract — pinned by RunTagsSpec field-by-field against golden
  * data from the replaced column forms on branch-covering tag maps:
  *  - the [[OsmTags.lifecycle]] cascade on "piste:type";
  *  - uses = filter(transform(split(value, ";", -1), lower∘trim),
  *    ∈ ValidUses) with trailing empties kept by the -1 limit,
  *    duplicates preserved, null value → null array;
  *  - grooming/difficulty/gladed/oneway/patrolled/snowmaking/
  *    snowfarming/tunnel/lit per RunFormatter rules (strict yes/no
  *    booleans, [[OsmTags.yesNo]]);
  *  - ref and name by [[OsmTags.ref]] and [[OsmTags.name]]: values of
  *    `piste:name`(+`:suffix`) keys — else of `name`(+`:suffix`) —
  *    with the "{ref} - " prefix strip;
  *  - wikidata_id: [[OsmTags.firstValue]].
  */
object RunTagsKernel extends TagKernel {

  val name = "runtagsexpr"
  val nullable = false

  val schema: StructType = StructType(Seq(
    StructField("st_status", StringType),
    StructField("status", StringType),
    StructField("uses", ArrayType(StringType, containsNull = false)),
    StructField("difficulty", StringType),
    StructField("grooming", StringType),
    StructField("gladed", BooleanType),
    StructField("oneway", BooleanType),
    StructField("patrolled", BooleanType),
    StructField("snowmaking", BooleanType),
    StructField("snowfarming", BooleanType),
    StructField("tunnel", BooleanType),
    StructField("lit", BooleanType),
    StructField("ref", StringType),
    StructField("name", StringType),
    StructField("website", StringType),
    StructField("wikidata_id", StringType)))

  private val keys = Seq("piste:abandoned", "piste:difficulty",
    "piste:grooming", "piste:gladed", "gladed", "natural", "landuse",
    "piste:oneway", "oneway", "piste:patrolled", "patrolled",
    "piste:snowmaking", "piste:snowfarming", "tunnel", "piste:lit", "lit",
    "website", "wikidata")
  private val layout = new OsmTags.Layout(keys, Seq("piste:type"),
    nameRoots = Seq("piste:name", "name"))
  private val pisteType = layout.slot("piste:type")
  private val Seq(pisteAbandoned, pisteDifficulty, pisteGrooming,
    pisteGladed, gladed, natural, landuse, pisteOneway, oneway,
    pistePatrolled, patrolled, pisteSnowmaking, pisteSnowfarming, tunnel,
    pisteLit, lit, website, wikidata) = keys.map(layout.slot)

  private val Yes = UTF8String.fromString("yes")
  private val No = UTF8String.fromString("no")
  private val Wood = UTF8String.fromString("wood")
  private val Forest = UTF8String.fromString("forest")
  private val AbandonedS = UTF8String.fromString("abandoned")
  private val BackcountryS = UTF8String.fromString("backcountry")
  private val ClassicSkatingS = UTF8String.fromString("classic+skating")
  private val Downhill = UTF8String.fromString("downhill")
  private val validUses = OsmTags.utf8Set(graft.operators.SkiFeatures.ValidUses)
  private val validDifficulties =
    OsmTags.utf8Set(graft.operators.SkiFeatures.ValidDifficulties)
  private val validGrooming =
    OsmTags.utf8Set(graft.operators.SkiFeatures.ValidGrooming)
  private val backcountryDiffs =
    OsmTags.utf8Set(Seq("expert", "freeride", "extreme"))

  def eval(tags: MapData): InternalRow = {
    val t = layout.read(tags)
    val st = OsmTags.lifecycle(t, pisteType)
    val stValue = st.value

    // ---- uses ----
    var uses: ArrayData = null
    var usesHasDownhill = false
    if (stValue != null) {
      val parts = stValue.toString.split(";", -1)
      val kept = new java.util.ArrayList[UTF8String](parts.length)
      var i = 0
      while (i < parts.length) {
        val u = UTF8String.fromString(parts(i)).trim().toLowerCase()
        if (validUses.contains(u)) {
          kept.add(u)
          if (u.equals(Downhill)) usesHasDownhill = true
        }
        i += 1
      }
      val arr = new Array[Any](kept.size())
      var j = 0
      while (j < kept.size()) { arr(j) = kept.get(j); j += 1 }
      uses = new GenericArrayData(arr)
    }

    // ---- difficulty ----
    val diffRaw = t(pisteDifficulty)
    val difficulty =
      if (diffRaw != null && validDifficulties.contains(diffRaw)) diffRaw
      else null

    // ---- grooming ----
    val groomRaw = t(pisteGrooming)
    var grooming: UTF8String = null
    var groomed = false
    if (groomRaw != null) {
      val s = groomRaw.toString
      val semi = s.indexOf(';')
      val norm =
        if (semi >= 0) s.substring(0, semi) + "+" + s.substring(semi + 1)
        else s
      val parts = norm.split("\\+", -1)
      var hasClassic = false
      var hasSkating = false
      var i = 0
      while (i < parts.length) {
        if (parts(i) == "classic") hasClassic = true
        if (parts(i) == "skating") hasSkating = true
        i += 1
      }
      if (hasClassic && hasSkating) { grooming = ClassicSkatingS; groomed = true }
      else {
        val normU = UTF8String.fromString(norm)
        if (validGrooming.contains(normU)) { grooming = normU; groomed = true }
      }
    }
    if (!groomed) {
      if (diffRaw != null && backcountryDiffs.contains(diffRaw))
        grooming = BackcountryS
      else if (groomRaw != null && groomRaw.equals(No))
        grooming = BackcountryS
    }

    // ---- strict yes/no booleans, boxed for the row ----
    def firstNonNull(a: UTF8String, b: UTF8String): UTF8String =
      if (a != null) a else b

    val gladedB: java.lang.Boolean = {
      val tb = OsmTags.yesNo(firstNonNull(t(pisteGladed), t(gladed)))
      if (tb != null) tb
      else if ((t(natural) != null && t(natural).equals(Wood)) ||
        (t(landuse) != null && t(landuse).equals(Forest)))
        java.lang.Boolean.TRUE
      else null
    }
    val onewayB: java.lang.Boolean = {
      val tb = OsmTags.yesNo(firstNonNull(t(pisteOneway), t(oneway)))
      if (tb != null) tb
      else if (uses != null && usesHasDownhill) java.lang.Boolean.TRUE
      else null
    }
    val patrolledB =
      OsmTags.yesNo(firstNonNull(t(pistePatrolled), t(patrolled)))
    val snowmakingB = OsmTags.yesNo(t(pisteSnowmaking))
    val snowfarmingB = OsmTags.yesNo(t(pisteSnowfarming))
    val tunnelB: java.lang.Boolean =
      if (t(tunnel) != null) java.lang.Boolean.TRUE else null
    val litB = OsmTags.yesNo(firstNonNull(t(pisteLit), t(lit)))

    val ref = OsmTags.ref(t)
    val osmName = OsmTags.name(t, ref)

    // ---- status with the piste:abandoned=yes override ----
    val status =
      if (t(pisteAbandoned) != null && t(pisteAbandoned).equals(Yes))
        AbandonedS
      else st.status

    new GenericInternalRow(
      Array[Any](st.status, status, uses, difficulty, grooming, gladedB,
        onewayB, patrolledB, snowmakingB, snowfarmingB, tunnelB, litB,
        ref, osmName, t(website), OsmTags.firstValue(t(wikidata))))
  }
}

/** Not a StaticInvoke: a nondeterministic optimizer fence around one
  * [[TagKernel]]'s static `eval`, see below. Named for its first
  * kernel, the run formatter's; plans print the kernel's name.
  */
case class RunTagsExpr(child: Expression, kernel: TagKernel)
    extends UnaryExpression {
  override def dataType: DataType = kernel.schema
  override def nullable: Boolean = kernel.nullable
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = Iterator(child)
  // Optimizer fence, NOT actual nondeterminism (the kernel is a pure
  // function): PushPredicateThroughNonJoin substitutes the `__rt`
  // alias into formatRuns' dropped-status filter, making the kernel —
  // and the CreateMap feeding it — evaluate TWICE per row (measured:
  // cold sf1 scaffold 85 s → 101 s at local[4] from the duplication).
  // Declaring the expression nondeterministic stops alias inlining
  // (guide §4.4); the consumer is the checkpointed `formatted`
  // scaffold, so no useful pushdown is lost.
  override lazy val deterministic: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case MapType(StringType, StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${kernel.name} expects map<string,string>, got $other")
    }
  // a NULL tag map behaves like an empty one (every element_at of the
  // replaced cascade returned null), so eval takes it — no nullSafeEval
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    kernel.eval(if (v == null) null else v.asInstanceOf[MapData])
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val k = kernel.getClass.getName.stripSuffix("$")
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          $k.eval(${c.isNull} ? null : ${c.value});
      """,
      isNull =
        if (nullable) JavaCode.isNullExpression(s"${ev.value} == null")
        else FalseLiteral)
  }
  override protected def withNewChildInternal(
      newChild: Expression): RunTagsExpr = copy(child = newChild)
}

object RunTagsExpr {
  /** `kernel` over the tag map column `tags`. */
  def on(tags: Column, kernel: TagKernel): Column =
    GraftExpressionBridge.column(
      RunTagsExpr(GraftExpressionBridge.expression(tags), kernel))
}
