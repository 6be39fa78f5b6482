package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** OSM tag-map operators (SURVEY P7-P10), as column expressions over a
  * `map<string,string>` tags column.
  *
  * Reference semantics:
  *  - lifecycle status parsing `/root/reference/src/transforms/Status.ts:9-68`
  *    (+ the `piste:abandoned=yes` special case
  *    `/root/reference/src/transforms/RunFormatter.ts:110-113`)
  *  - ref selection `/root/reference/src/transforms/OSMTransforms.ts:103-109`
  *  - name collection + ref-prefix strip `OSMTransforms.ts:37-65,111-131`
  *  - yes/no boolean mapping `OSMTransforms.ts:15-24` (strictly yes/no —
  *    the reference maps nothing else)
  *
  * NOTE: synthesized tag maps may carry NULL values for absent tags
  * (CreateMap with null branches); everything here treats a null value
  * as an absent key, matching `hasOwnProperty` on a real map.
  */
object TagFunctions {

  /** Lifecycle states recognized by the status parser, in check order
    * (Status.ts lifecycleStates Set insertion order).
    */
  val states: Seq[String] =
    Seq("disused", "abandoned", "proposed", "planned", "construction")

  /** States that cause the feature to be dropped entirely. */
  val droppedStates: Seq[String] = Seq("demolished", "removed", "razed")

  /** Parse lifecycle status for a base key (e.g. "piste:type"):
    * returns struct(status, value).
    *
    * Cascade (Status.ts order):
    *  1. unsupported ⇒ "dropped" (callers filter): base key's VALUE is
    *     demolished/removed/razed, or a bare `demolished=yes` /
    *     `removed=yes` / `razed=yes` tag exists. (Prefixed
    *     `demolished:{key}` tags are NOT consulted — the reference
    *     never looks at them.)
    *  2. base key present and its value is a state name ⇒ that state,
    *     value from `tags[stateName]` when present;
    *  3. base key ABSENT: first `{state}:{key}` present ⇒ that state,
    *     its value. (When the base key IS present with a non-state
    *     value, prefixed keys are ignored.)
    *  4. otherwise: status = first bare `{state}=yes` if any, else
    *     "operating"; value = base (null when the key is absent —
    *     callers drop on empty value/uses, not on status).
    */
  /** JS `x || null` falsiness on tag values: '' → null (Status.ts
    * returns `properties[k] || null` on every value path).
    */
  private def emptyToNull(v: Column): Column =
    when(v === "", lit(null).cast("string")).otherwise(v)

  def lifecycleStatus(tags: Column, key: String): Column = {
    val base = element_at(tags, key)
    val unsupported =
      base.isin(droppedStates.map(x => x: Any): _*) ||
        droppedStates.map(s => element_at(tags, s) === "yes")
          .reduce(_ || _)
    val valueIsState = base.isin(states.map(x => x: Any): _*)
    val prefixedStatus = states.foldRight(lit(null).cast("string")) {
      (s, acc) => when(element_at(tags, s"$s:$key").isNotNull, lit(s)).otherwise(acc)
    }
    val prefixedValue = states.foldRight(lit(null).cast("string")) {
      (s, acc) => when(element_at(tags, s"$s:$key").isNotNull,
        emptyToNull(element_at(tags, s"$s:$key"))).otherwise(acc)
    }
    val bareState = states.foldRight(lit(null).cast("string")) {
      (s, acc) => when(element_at(tags, s) === "yes", lit(s)).otherwise(acc)
    }
    val status =
      when(unsupported, lit("dropped"))
        .when(base.isNotNull && valueIsState, base)
        .when(base.isNull && prefixedStatus.isNotNull, prefixedStatus)
        .otherwise(coalesce(bareState, lit("operating")))
    val value =
      when(unsupported, lit(null).cast("string"))
        .when(base.isNotNull && valueIsState, emptyToNull(element_at(tags, base)))
        .when(base.isNull && prefixedStatus.isNotNull, prefixedValue)
        .otherwise(emptyToNull(base))
    struct(status.as("status"), value.as("value"))
  }

  /** First of piste:loc_ref, piste:ref, loc_ref, ref (P8). */
  def osmRef(tags: Column): Column =
    coalesce(element_at(tags, "piste:loc_ref"), element_at(tags, "piste:ref"),
      element_at(tags, "loc_ref"), element_at(tags, "ref"))

  /** Collect `{root}` and `{root}:*` values in KEY-sorted order, unique
    * preserving first occurrence, comma-joined; falls back to
    * `{fallbackRoot}` when the root yields nothing; strips a leading
    * "{ref} - "-style prefix (P9, OSMTransforms.getOSMName).
    */
  def osmName(tags: Column, rootKey: String,
      fallbackRootKey: Option[String] = None,
      ref: Column = lit(null).cast("string")): Column = {
    def nameMap(root: String) = map_filter(tags,
      (k, v) => (k === root || k.startsWith(root + ":")) && v.isNotNull)
    val rootM = nameMap(rootKey)
    val m = fallbackRootKey
      .map(f => when(size(map_keys(rootM)) > 0, rootM).otherwise(nameMap(f)))
      .getOrElse(rootM)
    // array_sort on array<struct<key,value>> orders by key first — the
    // reference sorts the KEYS and emits values in that order.
    val vals = array_distinct(
      transform(array_sort(map_entries(m)), e => e.getField("value")))
    val joined = array_join(vals, ", ")
    val name =
      when(joined === "", lit(null).cast("string")).otherwise(joined)
    stripRefPrefix(name, ref)
  }

  /** Strip a leading "{ref} - " / "{ref}- " / "{ref} " prefix (P9). */
  def stripRefPrefix(name: Column, ref: Column): Column =
    when(ref.isNotNull && name.isNotNull,
      regexp_replace(name,
        concat(lit("^\\Q"), ref, lit("\\E(\\s*-?\\s+|-\\s*)")), lit("")))
      .otherwise(name)

  /** yes → true, no → false, anything else → NULL (P10 — the reference
    * maps strictly yes/no, not 1/0/true/false).
    */
  def tagBoolean(v: Column): Column =
    when(v === "yes", lit(true))
      .when(v === "no", lit(false))
      .otherwise(lit(null).cast("boolean"))

  /** Numeric tag → double, else NULL (OSMTransforms.mapOSMNumber =
    * `Number(input)` with NaN → null). Full JS Number() parity:
    * surrounding whitespace trimmed, '' → 0, optional sign,
    * leading/trailing dot, exponent, hex/binary/octal literals,
    * ±Infinity. Regex-gated so the cast never throws under ANSI mode.
    */
  def tagNumber(v: Column): Column = {
    val t = regexp_replace(v, "^[\\s\\u00A0\\uFEFF]+|[\\s\\u00A0\\uFEFF]+$", "")
    when(t === "", lit(0.0))
      .when(t.rlike("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"),
        t.cast("double"))
      .when(t.rlike("^0[xX][0-9a-fA-F]+$"),
        conv(t.substr(lit(3), length(t)), 16, 10).cast("double"))
      .when(t.rlike("^0[bB][01]+$"),
        conv(t.substr(lit(3), length(t)), 2, 10).cast("double"))
      .when(t.rlike("^0[oO][0-7]+$"),
        conv(t.substr(lit(3), length(t)), 8, 10).cast("double"))
      .when(t.isin("Infinity", "+Infinity"), lit(Double.PositiveInfinity))
      .when(t === "-Infinity", lit(Double.NegativeInfinity))
      .otherwise(lit(null).cast("double"))
  }

  /** tagNumber narrowed to int, with non-finite / out-of-range values
    * nulled so the ANSI-mode cast can never throw.
    */
  def tagNumberInt(v: Column): Column = {
    val n = tagNumber(v)
    when(n.between(Int.MinValue.toDouble, Int.MaxValue.toDouble),
      n.cast("int"))
  }

  /** JS `parseFloat` prefix parse (trim leading whitespace, longest
    * valid decimal prefix), NaN → null. Used by the lift duration's
    * `isNumeric` branch (LiftFormatter.ts:133-142).
    */
  def jsParseFloat(v: Column): Column = {
    val t = regexp_replace(v, "^[\\s\\u00A0\\uFEFF]+", "")
    val pfx = regexp_extract(t,
      "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?", 0)
    when(pfx =!= "", pfx.cast("double"))
      .when(t.rlike("^[+-]?Infinity"),
        when(t.startsWith("-"), lit(Double.NegativeInfinity))
          .otherwise(lit(Double.PositiveInfinity)))
      .otherwise(lit(null).cast("double"))
  }

  /** First ';'-separated value of a tag (OSMTransforms.getOSMFirstValue). */
  def tagFirstValue(tags: Column, key: String): Column = {
    val v = element_at(tags, key)
    when(v.isNotNull, split(v, ";").getItem(0))
      .otherwise(lit(null).cast("string"))
  }
}
