package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.unsafe.types.UTF8String

/** The OSM tag rules (SURVEY P7-P10), one owner each, for the
  * formatter kernels ([[RunTagsKernel]], [[LiftTagsKernel]],
  * [[AreaTagsKernel]]). A kernel reads its tag map once into slots
  * ([[Layout.read]]); each rule then works on those slots with plain JVM
  * string ops and patterns compiled once.
  *
  * Reference semantics:
  *  - lifecycle status `reference/src/transforms/Status.ts:9-68`
  *    ([[lifecycle]]);
  *  - ref selection `OSMTransforms.ts:103-109` ([[ref]]);
  *  - name collection + ref-prefix strip `OSMTransforms.ts:37-65,111-131`
  *    ([[name]]);
  *  - yes/no booleans `OSMTransforms.ts:15-24`, strictly yes/no
  *    ([[yesNo]]);
  *  - first `;` value, `OSMTransforms.getOSMFirstValue` ([[firstValue]]);
  *  - numbers, JS `Number` with NaN → null (`mapOSMNumber`), and JS
  *    `parseFloat`/`parseInt` ([[number]], [[parseFloat]], [[parseInt]]).
  *
  * A NULL map value is an absent key (`hasOwnProperty` on a real map),
  * and a NULL map reads as an empty one.
  */
object OsmTags {

  /** Lifecycle states, in check order (Status.ts lifecycleStates). */
  private val states: Seq[String] =
    Seq("disused", "abandoned", "proposed", "planned", "construction")

  /** States that drop the feature. */
  private val droppedStates: Seq[String] = Seq("demolished", "removed", "razed")

  /** Ref keys, in precedence order (P8). */
  private val refKeys = Seq("piste:loc_ref", "piste:ref", "loc_ref", "ref")

  /** What a kernel reads from a tag map: the values of `keys` and of the
    * ref keys; for each of `lifecycleKeys` its value and its
    * `{state}:{key}` values (with the bare state and dropped-state
    * keys); and the `{root}` / `{root}:*` entries of each name root,
    * first matching root first.
    */
  final class Layout(keys: Seq[String], lifecycleKeys: Seq[String] = Nil,
      nameRoots: Seq[String] = Nil) {
    private val names: IndexedSeq[String] = (refKeys ++ states ++
      droppedStates ++ lifecycleKeys.flatMap(k => k +: states.map(s => s"$s:$k")) ++
      keys).distinct.toIndexedSeq

    /** The slot of `key`, which this layout reads. */
    def slot(key: String): Int = {
      val i = names.indexOf(key)
      require(i >= 0, s"$key is not read")
      i
    }

    private[OsmTags] val size = names.size
    private[OsmTags] val stateSlot = slot(states.head)
    private[OsmTags] val droppedSlot = slot(droppedStates.head)
    private[OsmTags] val refSlot = slot(refKeys.head)
    for (k <- lifecycleKeys; (s, i) <- states.zipWithIndex)
      require(slot(s"$s:$k") == slot(k) + 1 + i, s"$k's lifecycle slots")

    private val index: java.util.HashMap[UTF8String, Integer] = {
      val m = new java.util.HashMap[UTF8String, Integer]()
      names.zipWithIndex.foreach { case (k, i) =>
        m.put(UTF8String.fromString(k), Integer.valueOf(i)) }
      m
    }
    private[OsmTags] val roots = nameRoots.map(UTF8String.fromString).toArray
    private val rootPrefixes =
      nameRoots.map(r => UTF8String.fromString(r + ":")).toArray

    /** One pass over `tags`: each read key's first value into its slot,
      * each name entry with a value into its root's list (first
      * occurrence per key, as GetMapValue took the first match).
      */
    def read(tags: MapData): Tags = {
      val t = new Tags(this)
      if (tags != null) {
        val keys = tags.keyArray()
        val vals = tags.valueArray()
        val n = tags.numElements()
        var i = 0
        while (i < n) {
          val k = keys.getUTF8String(i)
          val v = if (vals.isNullAt(i)) null else vals.getUTF8String(i)
          if (k != null) {
            val idx = index.get(k)
            if (idx != null) {
              if (t.slots(idx.intValue()) == null) t.slots(idx.intValue()) = v
            }
            if (v != null) {
              var r = 0
              while (r < roots.length) {
                if (k.equals(roots(r)) || k.startsWith(rootPrefixes(r))) {
                  t.addName(r, k, v)
                  r = roots.length
                }
                r += 1
              }
            }
          }
          i += 1
        }
      }
      t
    }
  }

  /** One tag map as its [[Layout]] read it. */
  final class Tags private[OsmTags] (val layout: Layout) {
    val slots = new Array[UTF8String](layout.size)
    /** Per name root, its entries in binary key order. */
    private[OsmTags] val names =
      new Array[java.util.TreeMap[UTF8String, UTF8String]](layout.roots.length)

    def apply(slot: Int): UTF8String = slots(slot)

    private[OsmTags] def addName(r: Int, k: UTF8String, v: UTF8String): Unit = {
      if (names(r) == null) names(r) = new java.util.TreeMap[UTF8String, UTF8String]()
      names(r).putIfAbsent(k, v)
    }
  }

  private val Yes = UTF8String.fromString("yes")
  private val No = UTF8String.fromString("no")
  private val OperatingS = UTF8String.fromString("operating")
  private val statesU = states.map(UTF8String.fromString).toArray
  private val droppedU = droppedStates.map(UTF8String.fromString).toArray

  /** JS `x || null` falsiness on tag values: '' → null. */
  private def emptyToNull(v: UTF8String): UTF8String =
    if (v != null && v.numBytes() == 0) null else v

  /** A lifecycle status and its value; [[Lifecycle.Dropped]] for a
    * feature the formatter drops.
    */
  final class Lifecycle(val status: UTF8String, val value: UTF8String) {
    def dropped: Boolean = this eq Lifecycle.Dropped
  }
  object Lifecycle {
    val Dropped = new Lifecycle(UTF8String.fromString("dropped"), null)
  }

  /** The Status.ts cascade for the lifecycle key whose slot is `base`:
    *  1. dropped: the key's VALUE is demolished/removed/razed, or a bare
    *     `demolished=yes` / `removed=yes` / `razed=yes` exists (prefixed
    *     `demolished:{key}` keys are never consulted);
    *  2. the key's value is a state ⇒ that state, value `tags[state]`;
    *  3. the key is ABSENT and a `{state}:{key}` exists ⇒ the first such
    *     state, its value (a present key with a non-state value ignores
    *     the prefixed keys);
    *  4. otherwise the first bare `{state}=yes`, else "operating"; value
    *     the key's (null when absent).
    * Every value path maps '' to null.
    */
  def lifecycle(t: Tags, base: Int): Lifecycle = {
    val s = t.slots
    val l = t.layout
    val v = s(base)
    val valueState = if (v == null) -1 else indexOf(statesU, v)
    if ((v != null && indexOf(droppedU, v) >= 0) ||
        firstYes(s, l.droppedSlot, droppedU.length) >= 0) Lifecycle.Dropped
    else if (valueState >= 0)
      new Lifecycle(v, emptyToNull(s(l.stateSlot + valueState)))
    else {
      var prefixed = -1
      if (v == null) {
        var i = 0
        while (i < statesU.length && s(base + 1 + i) == null) i += 1
        if (i < statesU.length) prefixed = i
      }
      if (prefixed >= 0)
        new Lifecycle(statesU(prefixed), emptyToNull(s(base + 1 + prefixed)))
      else {
        val bare = firstYes(s, l.stateSlot, statesU.length)
        new Lifecycle(if (bare >= 0) statesU(bare) else OperatingS,
          emptyToNull(v))
      }
    }
  }

  /** The first of the `n` slots from `from` whose value is "yes", or -1. */
  private def firstYes(s: Array[UTF8String], from: Int, n: Int): Int = {
    var i = 0
    while (i < n && !(s(from + i) != null && s(from + i).equals(Yes))) i += 1
    if (i < n) i else -1
  }

  private def indexOf(a: Array[UTF8String], v: UTF8String): Int = {
    var i = 0
    while (i < a.length && !v.equals(a(i))) i += 1
    if (i < a.length) i else -1
  }

  /** The first of piste:loc_ref, piste:ref, loc_ref, ref (P8). */
  def ref(t: Tags): UTF8String = {
    var i = 0
    while (i < refKeys.length - 1 && t.slots(t.layout.refSlot + i) == null) i += 1
    t.slots(t.layout.refSlot + i)
  }

  private val CommaSpace = ", "

  /** The ref-prefix separator, `^\Qref\E(\s*-?\s+|-\s*)` after the ref. */
  private val RefSeparator = Pattern.compile("^(\\s*-?\\s+|-\\s*)")

  /** The entries of the first name root that has any: values in binary
    * key order, first occurrence distinct, ", "-joined ('' → null),
    * then without a leading "{ref} - " / "{ref}- " / "{ref} " when `ref`
    * is not null (P9).
    */
  def name(t: Tags, ref: UTF8String): UTF8String = {
    var r = 0
    while (r < t.names.length && t.names(r) == null) r += 1
    var name: UTF8String = null
    if (r < t.names.length) {
      val sb = new java.lang.StringBuilder()
      val seen = new java.util.HashSet[UTF8String]()
      val vs = t.names(r).values().iterator()
      var first = true
      while (vs.hasNext) {
        val v = vs.next()
        if (seen.add(v)) {
          if (!first) sb.append(CommaSpace)
          sb.append(v.toString)
          first = false
        }
      }
      // '' (only possible as a single empty value) stays null
      if (sb.length() > 0) name = UTF8String.fromString(sb.toString)
    }
    if (ref != null && name != null) {
      val ns = name.toString
      val rs = ref.toString
      if (ns.startsWith(rs)) {
        val m = RefSeparator.matcher(ns.substring(rs.length))
        if (m.lookingAt())
          name = UTF8String.fromString(ns.substring(rs.length + m.end()))
      }
    }
    name
  }

  /** The UTF8String set of `xs`. */
  def utf8Set(xs: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    xs.foreach(x => s.add(UTF8String.fromString(x)))
    s
  }

  /** yes → true, no → false, anything else → null (P10). */
  def yesNo(v: UTF8String): java.lang.Boolean =
    if (v == null) null
    else if (v.equals(Yes)) java.lang.Boolean.TRUE
    else if (v.equals(No)) java.lang.Boolean.FALSE
    else null

  /** The first `;`-separated component ('' stays ''). */
  def firstValue(v: UTF8String): UTF8String =
    if (v == null) null
    else {
      val s = v.toString
      val semi = s.indexOf(';')
      if (semi < 0) v else UTF8String.fromString(s.substring(0, semi))
    }

  // JS whitespace as the number rules trim it: Java \s, NBSP and BOM
  private val Blank = "[\\s\\u00A0\\uFEFF]"
  private val Trim = Pattern.compile(s"^$Blank+|$Blank+$$")
  private val LeadingBlank = Pattern.compile(s"^$Blank+")
  private val DecimalBody = "[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?"
  private val Decimal = Pattern.compile(s"^$DecimalBody$$")
  private val DecimalPrefix = Pattern.compile(s"^$DecimalBody")
  private val InfinityPrefix = Pattern.compile("^[+-]?Infinity")
  private val IntPrefix = Pattern.compile(s"^$Blank*([+-]?[0-9]+)")
  private val radixLiterals = Seq(16 -> "^0[xX][0-9a-fA-F]+$",
    2 -> "^0[bB][01]+$", 8 -> "^0[oO][0-7]+$")
    .map { case (r, p) => (r, Pattern.compile(p)) }.toArray

  private def boxed(d: Double): java.lang.Double = java.lang.Double.valueOf(d)

  /** JS `Number(v)`, NaN → null: surrounding whitespace trimmed, '' → 0,
    * optional sign, leading/trailing dot, exponent, hex/binary/octal
    * literals, ±Infinity. A literal too long for a double's digits
    * rounds as JS rounds it.
    */
  def number(v: UTF8String): java.lang.Double =
    if (v == null) null
    else {
      val t = Trim.matcher(v.toString).replaceAll("")
      try {
        if (t.isEmpty) boxed(0.0)
        else if (Decimal.matcher(t).find()) boxed(java.lang.Double.parseDouble(t))
        else radixLiterals.collectFirst {
          case (r, p) if p.matcher(t).find() =>
            boxed(new java.math.BigInteger(t.substring(2), r).doubleValue())
        }.getOrElse {
          if (t == "Infinity" || t == "+Infinity") boxed(Double.PositiveInfinity)
          else if (t == "-Infinity") boxed(Double.NegativeInfinity)
          else null
        }
      } catch { case _: NumberFormatException => null }
    }

  /** [[number]] truncated to an int; null outside the int range. */
  def int(v: UTF8String): java.lang.Integer = {
    val n = number(v)
    if (n == null || !(n >= Int.MinValue && n <= Int.MaxValue)) null
    else Integer.valueOf(n.doubleValue().toInt)
  }

  /** JS `parseFloat(v)`: leading whitespace trimmed, the longest decimal
    * prefix, or ±Infinity; NaN → null.
    */
  def parseFloat(v: UTF8String): java.lang.Double =
    if (v == null) null
    else {
      val t = LeadingBlank.matcher(v.toString).replaceFirst("")
      val m = DecimalPrefix.matcher(t)
      if (m.find()) boxed(java.lang.Double.parseDouble(m.group()))
      else if (InfinityPrefix.matcher(t).find())
        boxed(if (t.startsWith("-")) Double.NegativeInfinity
          else Double.PositiveInfinity)
      else null
    }

  /** JS `parseInt(s, 10)`: the leading integer after whitespace; null
    * when there is none or it does not fit a long.
    */
  def parseInt(s: String): java.lang.Long = {
    val m = IntPrefix.matcher(s)
    if (!m.find()) null
    else try java.lang.Long.valueOf(m.group(1))
    catch { case _: NumberFormatException => null }
  }
}
