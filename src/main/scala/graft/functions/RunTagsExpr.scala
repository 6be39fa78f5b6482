package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The ENTIRE run-formatter tag cascade (Formatters.formatRuns tag
  * semantics — SURVEY P1/P7-P10) as ONE native kernel doing a single
  * pass over the tag map.
  *
  * Why (round 19, guide §4 / §1.2): the declarative formatter was the
  * single most expensive expression tree in the engine — ~120 s of
  * pure per-row evaluation over the 6M-row sf1 scaffold at local[4]
  * (~80 µs/row), dominated by `osmName`'s two interpreted `map_filter`
  * higher-order functions + `array_sort(map_entries(...))` (30 s
  * measured alone), `stripRefPrefix`'s per-row-BUILT regex (a
  * `Pattern.compile` per row, 5 s), the `filter(transform(split(...)))`
  * uses parser (interpreted lambdas), and ~30 `element_at` map probes
  * each scanning the 27-entry map linearly. Every ski query pays this
  * scaffold, so it is the heaviest shared path in the registry. The
  * kernel reads the map once into local slots and computes every
  * output with plain JVM string ops and ONE statically-compiled
  * separator pattern.
  *
  * Value contract — pinned by RunTagsSpec field-by-field against the
  * replaced column forms on branch-covering tag maps:
  *  - lifecycleStatus("piste:type") cascade exactly as
  *    TagFunctions.lifecycleStatus (three-valued logic reduced at the
  *    `when` decision points, JS `'' → null` falsiness on value paths,
  *    null map value ≡ absent key);
  *  - uses = filter(transform(split(value, ";", -1), lower∘trim),
  *    ∈ ValidUses) with trailing empties kept by the -1 limit,
  *    duplicates preserved, null value → null array;
  *  - grooming/difficulty/gladed/oneway/patrolled/snowmaking/
  *    snowfarming/tunnel/lit per RunFormatter rules (strict yes/no
  *    booleans);
  *  - name: values of `piste:name`(+`:suffix`) keys — else of
  *    `name`(+`:suffix`) — in binary key-sorted order, first-occurrence
  *    distinct, ", "-joined, '' → null, with the "{ref} - " prefix
  *    strip (`^\Qref\E(\s*-?\s+|-\s*)` anchored, Java \s class);
  *  - wikidata_id: first ';'-separated component (an empty string
  *    stays an empty string, as split(...)[0] did).
  */
object RunTagsKernel {

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

  // slot indices for the single-pass key capture
  private final val PisteType = 0
  private final val PisteAbandoned = 1
  private final val PisteDifficulty = 2
  private final val PisteGrooming = 3
  private final val PisteGladed = 4
  private final val Gladed = 5
  private final val Natural = 6
  private final val Landuse = 7
  private final val PisteOneway = 8
  private final val Oneway = 9
  private final val PistePatrolled = 10
  private final val Patrolled = 11
  private final val PisteSnowmaking = 12
  private final val PisteSnowfarming = 13
  private final val Tunnel = 14
  private final val PisteLit = 15
  private final val Lit = 16
  private final val PisteLocRef = 17
  private final val PisteRef = 18
  private final val LocRef = 19
  private final val Ref = 20
  private final val Website = 21
  private final val Wikidata = 22
  private final val StateBase = 23   // 23..27: disused abandoned proposed planned construction
  private final val DroppedBase = 28 // 28..30: demolished removed razed
  private final val PrefixedBase = 31 // 31..35: {state}:piste:type
  private final val NSlots = 36

  private val states = TagFunctions.states // disused abandoned proposed planned construction
  private val dropped = TagFunctions.droppedStates // demolished removed razed

  private val slotKeys: Array[(UTF8String, Int)] = {
    val named = Seq(
      "piste:type" -> PisteType, "piste:abandoned" -> PisteAbandoned,
      "piste:difficulty" -> PisteDifficulty,
      "piste:grooming" -> PisteGrooming, "piste:gladed" -> PisteGladed,
      "gladed" -> Gladed, "natural" -> Natural, "landuse" -> Landuse,
      "piste:oneway" -> PisteOneway, "oneway" -> Oneway,
      "piste:patrolled" -> PistePatrolled, "patrolled" -> Patrolled,
      "piste:snowmaking" -> PisteSnowmaking,
      "piste:snowfarming" -> PisteSnowfarming,
      "tunnel" -> Tunnel, "piste:lit" -> PisteLit, "lit" -> Lit,
      "piste:loc_ref" -> PisteLocRef, "piste:ref" -> PisteRef,
      "loc_ref" -> LocRef, "ref" -> Ref,
      "website" -> Website, "wikidata" -> Wikidata) ++
      states.zipWithIndex.map { case (s, i) => s -> (StateBase + i) } ++
      dropped.zipWithIndex.map { case (s, i) => s -> (DroppedBase + i) } ++
      states.zipWithIndex.map { case (s, i) =>
        s"$s:piste:type" -> (PrefixedBase + i) }
    named.map { case (k, i) => UTF8String.fromString(k) -> i }.toArray
  }

  private val keyIndex: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    slotKeys.foreach { case (k, i) => m.put(k, Integer.valueOf(i)) }
    m
  }

  private val PisteName = UTF8String.fromString("piste:name")
  private val PisteNamePfx = UTF8String.fromString("piste:name:")
  private val NameKey = UTF8String.fromString("name")
  private val NamePfx = UTF8String.fromString("name:")
  private val Yes = UTF8String.fromString("yes")
  private val No = UTF8String.fromString("no")
  private val Wood = UTF8String.fromString("wood")
  private val Forest = UTF8String.fromString("forest")
  private val OperatingS = UTF8String.fromString("operating")
  private val DroppedS = UTF8String.fromString("dropped")
  private val AbandonedS = UTF8String.fromString("abandoned")
  private val BackcountryS = UTF8String.fromString("backcountry")
  private val ClassicSkatingS = UTF8String.fromString("classic+skating")
  private val ClassicS = UTF8String.fromString("classic")
  private val Downhill = UTF8String.fromString("downhill")
  private val CommaSpace = ", "
  private val statesU: Array[UTF8String] =
    states.map(UTF8String.fromString).toArray
  private val droppedU: Array[UTF8String] =
    dropped.map(UTF8String.fromString).toArray
  private val validUses: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    graft.operators.SkiFeatures.ValidUses
      .foreach(u => s.add(UTF8String.fromString(u)))
    s
  }
  private val validDifficulties: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    graft.operators.SkiFeatures.ValidDifficulties
      .foreach(u => s.add(UTF8String.fromString(u)))
    s
  }
  private val validGrooming: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    graft.operators.SkiFeatures.ValidGrooming
      .foreach(u => s.add(UTF8String.fromString(u)))
    s
  }
  private val backcountryDiffs: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    Seq("expert", "freeride", "extreme")
      .foreach(u => s.add(UTF8String.fromString(u)))
    s
  }

  /** The stripRefPrefix separator, compiled ONCE (the replaced
    * regexp_replace rebuilt `^\Qref\E(\s*-?\s+|-\s*)` per row).
    */
  private val SepPattern = java.util.regex.Pattern.compile(
    "^(\\s*-?\\s+|-\\s*)")

  /** JS `x || null` falsiness: '' → null. */
  private def emptyToNull(v: UTF8String): UTF8String =
    if (v != null && v.numBytes() == 0) null else v

  /** Split on a single literal char, limit -1 semantics (trailing
    * empties kept), as split(str, ";", -1) produced.
    */
  private def splitChar(s: String, c: Char): Array[String] = {
    var n = 1
    var i = 0
    while (i < s.length) { if (s.charAt(i) == c) n += 1; i += 1 }
    val out = new Array[String](n)
    var k = 0
    var start = 0
    i = 0
    while (i < s.length) {
      if (s.charAt(i) == c) { out(k) = s.substring(start, i); k += 1; start = i + 1 }
      i += 1
    }
    out(k) = s.substring(start)
    out
  }

  def eval(tags: MapData): InternalRow = {
    val slots = new Array[UTF8String](NSlots)
    // name-root collectors: (key, value) pairs, first occurrence per
    // key (GetMapValue takes the first match; real maps are unique)
    var pisteNameK: java.util.ArrayList[UTF8String] = null
    var pisteNameV: java.util.ArrayList[UTF8String] = null
    var nameK: java.util.ArrayList[UTF8String] = null
    var nameV: java.util.ArrayList[UTF8String] = null
    if (tags != null) {
      val keys = tags.keyArray()
      val vals = tags.valueArray()
      val n = tags.numElements()
      var i = 0
      while (i < n) {
        val k = keys.getUTF8String(i)
        val v = if (vals.isNullAt(i)) null else vals.getUTF8String(i)
        if (k != null) {
          val idx = keyIndex.get(k)
          if (idx != null) {
            if (slots(idx.intValue()) == null) slots(idx.intValue()) = v
          }
          if (v != null) {
            if (k.equals(PisteName) || k.startsWith(PisteNamePfx)) {
              if (pisteNameK == null) {
                pisteNameK = new java.util.ArrayList[UTF8String](2)
                pisteNameV = new java.util.ArrayList[UTF8String](2)
              }
              if (!pisteNameK.contains(k)) { pisteNameK.add(k); pisteNameV.add(v) }
            } else if (k.equals(NameKey) || k.startsWith(NamePfx)) {
              if (nameK == null) {
                nameK = new java.util.ArrayList[UTF8String](2)
                nameV = new java.util.ArrayList[UTF8String](2)
              }
              if (!nameK.contains(k)) { nameK.add(k); nameV.add(v) }
            }
          }
        }
        i += 1
      }
    }

    // ---- lifecycleStatus(tags, "piste:type") ----
    val base = slots(PisteType)
    var unsupported = false
    if (base != null) {
      var i = 0
      while (i < 3 && !unsupported) {
        if (base.equals(droppedU(i))) unsupported = true
        i += 1
      }
    }
    if (!unsupported) {
      var i = 0
      while (i < 3 && !unsupported) {
        val v = slots(DroppedBase + i)
        if (v != null && v.equals(Yes)) unsupported = true
        i += 1
      }
    }
    var baseStateIdx = -1
    if (base != null) {
      var i = 0
      while (i < statesU.length && baseStateIdx < 0) {
        if (base.equals(statesU(i))) baseStateIdx = i
        i += 1
      }
    }
    var prefixedIdx = -1
    locally {
      var i = 0
      while (i < statesU.length && prefixedIdx < 0) {
        if (slots(PrefixedBase + i) != null) prefixedIdx = i
        i += 1
      }
    }
    var bareIdx = -1
    locally {
      var i = 0
      while (i < statesU.length && bareIdx < 0) {
        val v = slots(StateBase + i)
        if (v != null && v.equals(Yes)) bareIdx = i
        i += 1
      }
    }
    val stStatus: UTF8String =
      if (unsupported) DroppedS
      else if (base != null && baseStateIdx >= 0) base
      else if (base == null && prefixedIdx >= 0) statesU(prefixedIdx)
      else if (bareIdx >= 0) statesU(bareIdx)
      else OperatingS
    val stValue: UTF8String =
      if (unsupported) null
      else if (base != null && baseStateIdx >= 0)
        emptyToNull(slots(StateBase + baseStateIdx))
      else if (base == null && prefixedIdx >= 0)
        emptyToNull(slots(PrefixedBase + prefixedIdx))
      else emptyToNull(base)

    // ---- uses ----
    var uses: ArrayData = null
    var usesHasDownhill = false
    if (stValue != null) {
      val parts = splitChar(stValue.toString, ';')
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
    val diffRaw = slots(PisteDifficulty)
    val difficulty =
      if (diffRaw != null && validDifficulties.contains(diffRaw)) diffRaw
      else null

    // ---- grooming ----
    val groomRaw = slots(PisteGrooming)
    var grooming: UTF8String = null
    var groomed = false
    if (groomRaw != null) {
      val s = groomRaw.toString
      val semi = s.indexOf(';')
      val norm =
        if (semi >= 0) s.substring(0, semi) + "+" + s.substring(semi + 1)
        else s
      val parts = splitChar(norm, '+')
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

    // ---- strict yes/no boolean (null otherwise); boxed for the row ----
    def tagBool(v: UTF8String): java.lang.Boolean =
      if (v == null) null
      else if (v.equals(Yes)) java.lang.Boolean.TRUE
      else if (v.equals(No)) java.lang.Boolean.FALSE
      else null
    def firstNonNull(a: UTF8String, b: UTF8String): UTF8String =
      if (a != null) a else b

    val gladedB: java.lang.Boolean = {
      val tb = tagBool(firstNonNull(slots(PisteGladed), slots(Gladed)))
      if (tb != null) tb
      else if ((slots(Natural) != null && slots(Natural).equals(Wood)) ||
        (slots(Landuse) != null && slots(Landuse).equals(Forest)))
        java.lang.Boolean.TRUE
      else null
    }
    val onewayB: java.lang.Boolean = {
      val tb = tagBool(firstNonNull(slots(PisteOneway), slots(Oneway)))
      if (tb != null) tb
      else if (uses != null && usesHasDownhill) java.lang.Boolean.TRUE
      else null
    }
    val patrolledB =
      tagBool(firstNonNull(slots(PistePatrolled), slots(Patrolled)))
    val snowmakingB = tagBool(slots(PisteSnowmaking))
    val snowfarmingB = tagBool(slots(PisteSnowfarming))
    val tunnelB: java.lang.Boolean =
      if (slots(Tunnel) != null) java.lang.Boolean.TRUE else null
    val litB = tagBool(firstNonNull(slots(PisteLit), slots(Lit)))

    // ---- ref ----
    val ref = {
      var r = slots(PisteLocRef)
      if (r == null) r = slots(PisteRef)
      if (r == null) r = slots(LocRef)
      if (r == null) r = slots(Ref)
      r
    }

    // ---- name: key-sorted distinct values, ", "-joined, ref strip ----
    var name: UTF8String = null
    locally {
      val (ks, vs) =
        if (pisteNameK != null) (pisteNameK, pisteNameV)
        else if (nameK != null) (nameK, nameV)
        else (null, null)
      if (ks != null) {
        val n = ks.size()
        val order = new Array[Int](n)
        var i = 0
        while (i < n) { order(i) = i; i += 1 }
        // insertion sort by binary key order (n is tiny)
        i = 1
        while (i < n) {
          val oi = order(i)
          val key = ks.get(oi)
          var j = i - 1
          while (j >= 0 && ks.get(order(j)).compareTo(key) > 0) {
            order(j + 1) = order(j); j -= 1
          }
          order(j + 1) = oi
          i += 1
        }
        val sb = new java.lang.StringBuilder()
        val seen = new java.util.HashSet[UTF8String]()
        var first = true
        i = 0
        while (i < n) {
          val v = vs.get(order(i))
          if (seen.add(v)) {
            if (!first) sb.append(CommaSpace)
            sb.append(v.toString)
            first = false
          }
          i += 1
        }
        if (sb.length() > 0) name = UTF8String.fromString(sb.toString)
        // '' (only possible as a single empty value) → null, as
        // `when(joined === "", null)` did
      }
      if (ref != null && name != null) {
        val ns = name.toString
        val rs = ref.toString
        if (ns.startsWith(rs)) {
          val rest = ns.substring(rs.length)
          val m = SepPattern.matcher(rest)
          if (m.lookingAt())
            name = UTF8String.fromString(rest.substring(m.end()))
        }
      }
    }

    // ---- website / wikidata ----
    val website = slots(Website)
    val wikidata: UTF8String = {
      val v = slots(Wikidata)
      if (v == null) null
      else {
        val s = v.toString
        val semi = s.indexOf(';')
        if (semi < 0) v else UTF8String.fromString(s.substring(0, semi))
      }
    }

    // ---- status with the piste:abandoned=yes override ----
    val status =
      if (slots(PisteAbandoned) != null && slots(PisteAbandoned).equals(Yes))
        AbandonedS
      else stStatus

    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](stStatus, status, uses, difficulty, grooming, gladedB,
        onewayB, patrolledB, snowmakingB, snowfarmingB, tunnelB, litB,
        ref, name, website, wikidata))
  }
}

/** Not a StaticInvoke: a nondeterministic optimizer fence, see below. */
case class RunTagsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = RunTagsKernel.schema
  override def nullable: Boolean = false
  // Optimizer fence, NOT actual nondeterminism (the kernel is a pure
  // function): PushPredicateThroughNonJoin substitutes the `__rt`
  // alias into formatRuns' dropped-status filter, making the kernel —
  // and the CreateMap feeding it — evaluate TWICE per row (measured:
  // cold sf1 scaffold 85 s → 101 s at local[4] from the duplication).
  // Declaring the expression nondeterministic stops alias inlining
  // (guide §4.4); the consumer is the checkpointed `formatted`
  // scaffold, so no useful pushdown is lost.
  override lazy val deterministic: Boolean = false
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case MapType(StringType, StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"runTags expects map<string,string>, got $other")
    }
  // a NULL tag map behaves like an empty one (every element_at of the
  // replaced cascade returned null), so eval is total — no nullSafeEval
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    RunTagsKernel.eval(
      if (v == null) null else v.asInstanceOf[MapData])
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.functions.RunTagsKernel.eval(
            ${c.isNull} ? null : ${c.value});
      """,
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(
      newChild: Expression): RunTagsExpr = copy(child = newChild)
}

object RunTagsExpr {
  def runTags(tags: Column): Column =
    GraftExpressionBridge.column(
      RunTagsExpr(GraftExpressionBridge.expression(tags)))
}
