package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The lift formatter's tag cascade (SURVEY P2,
  * `reference/src/transforms/LiftFormatter.ts:27-155`) as one
  * single-pass kernel; null for a lift the formatter drops:
  *  - the drop set of `LiftFormatter.ts:42-53` (passenger=no,
  *    access=no/forestry, foot=no/private, usage=freight/industrial,
  *    railway:traffic_mode=freight; access=private is kept, as the
  *    `access` column);
  *  - [[OsmTags.lifecycle]] over `aerialway`, or over `railway` when
  *    the aerialway VALUE is null (rail values → "railway", funicular
  *    kept); dropped statuses and values outside the lift types drop;
  *  - `aerialway:duration` (LiftFormatter.mapDuration): a whole-string
  *    finite JS Number that parseFloat also parses → round(minutes ×
  *    60), else exactly two `:` parts → parseInt each as m:s, else
  *    null; a result outside a long is null;
  *  - occupancy/capacity ([[OsmTags.int]]), bubble/heating/detachable/
  *    oneway ([[OsmTags.yesNo]]), tunnel (any value), ref and name with
  *    the ref-prefix strip, wikidata's first value, website.
  * FormatterTagsSpec pins its rows to golden data from the column forms it
  * replaced.
  */
object LiftTagsKernel extends TagKernel {

  val name = "lifttags"
  val nullable = true

  val schema: StructType = StructType.fromDDL("status string, " +
    "lift_type string, duration_s bigint, occupancy int, capacity int, " +
    "bubble boolean, heating boolean, detachable boolean, oneway boolean, " +
    "tunnel boolean, access string, ref string, name string, " +
    "wikidata_id string, website string")

  /** openskidata-format LiftType enum values. */
  private val liftTypes: Seq[String] = Seq("cable_car", "gondola", "chair_lift",
    "mixed_lift", "drag_lift", "t-bar", "j-bar", "platter", "rope_tow",
    "magic_carpet", "funicular", "railway")

  /** railway= values that are LiftType.Railway (`LiftFormatter.ts:120-133`;
    * funicular stays its own lift type).
    */
  private val railwayTypes = Seq("narrow_gauge", "rail", "light_rail",
    "tram", "subway", "monorail")

  /** Tag values that drop a lift, per key. */
  private val dropValues = Seq("passenger" -> Seq("no"),
    "access" -> Seq("forestry", "no"), "foot" -> Seq("no", "private"),
    "usage" -> Seq("freight", "industrial"),
    "railway:traffic_mode" -> Seq("freight"))

  private val keys = Seq("aerialway:duration", "aerialway:occupancy",
    "aerialway:capacity", "aerialway:bubble", "aerialway:heating",
    "aerialway:detachable", "oneway", "tunnel", "access", "wikidata",
    "website")
  private val layout = new OsmTags.Layout(keys ++ dropValues.map(_._1),
    Seq("aerialway", "railway"), nameRoots = Seq("name"))
  private val aerialway = layout.slot("aerialway")
  private val railway = layout.slot("railway")
  private val Seq(duration, occupancy, capacity, bubble, heating, detachable,
    oneway, tunnel, access, wikidata, website) = keys.map(layout.slot)

  private val drops = dropValues
    .map { case (k, vs) => (layout.slot(k), OsmTags.utf8Set(vs)) }.toArray
  private val liftTypeSet = OsmTags.utf8Set(liftTypes)
  private val railwayTypeSet = OsmTags.utf8Set(railwayTypes)
  private val RailwayS = UTF8String.fromString("railway")
  private val PrivateS = UTF8String.fromString("private")

  private def dropped(t: OsmTags.Tags): Boolean =
    drops.exists { case (slot, values) =>
      t(slot) != null && values.contains(t(slot)) }

  /** LiftFormatter.mapDuration, in seconds. */
  private def durationS(v: UTF8String): java.lang.Long =
    if (v == null) null
    else {
      val minutes = OsmTags.number(v)
      val pf = OsmTags.parseFloat(v)
      if (minutes != null && !minutes.isInfinite && pf != null)
        java.lang.Long.valueOf(Math.floor(pf * 60 + 0.5).toLong)
      else {
        val parts = v.toString.split(":", -1)
        if (parts.length != 2) null
        else {
          val m = OsmTags.parseInt(parts(0))
          val s = OsmTags.parseInt(parts(1))
          if (m == null || s == null) null
          else try java.lang.Long.valueOf(Math.addExact(
            Math.multiplyExact(m.longValue(), 60L), s.longValue()))
          catch { case _: ArithmeticException => null }
        }
      }
    }

  def eval(tags: MapData): InternalRow = {
    val t = layout.read(tags)
    val aerial = OsmTags.lifecycle(t, aerialway)
    val useRail = aerial.value == null
    val st = if (useRail) OsmTags.lifecycle(t, railway) else aerial
    val liftType =
      if (useRail && st.value != null && railwayTypeSet.contains(st.value))
        RailwayS
      else st.value
    if (dropped(t) || st.dropped || liftType == null ||
        !liftTypeSet.contains(liftType)) null
    else {
      val ref = OsmTags.ref(t)
      new GenericInternalRow(Array[Any](st.status, liftType,
        durationS(t(duration)), OsmTags.int(t(occupancy)),
        OsmTags.int(t(capacity)), OsmTags.yesNo(t(bubble)),
        OsmTags.yesNo(t(heating)), OsmTags.yesNo(t(detachable)),
        OsmTags.yesNo(t(oneway)),
        if (t(tunnel) != null) java.lang.Boolean.TRUE else null,
        if (t(access) != null && t(access).equals(PrivateS)) PrivateS else null,
        ref, OsmTags.name(t, ref), OsmTags.firstValue(t(wikidata)),
        t(website)))
    }
  }
}

/** The OSM ski-area formatter's tag cascade
  * (`reference/src/transforms/SkiAreaFormatter.ts:66-136`) over
  * one lifecycle key, as one single-pass kernel; null for an area the
  * formatter drops (a dropped status, or for landuse a `sport` other
  * than skiing/ski). Status by [[OsmTags.lifecycle]] (an absent key is
  * "operating", and kept), name without a ref strip, website and
  * wikidata's first value. FormatterTagsSpec pins its rows to golden data
  * from the column forms it replaced.
  */
sealed abstract class AreaTagsKernel(key: String, sportGate: Boolean)
    extends TagKernel {

  val nullable = true

  val schema: StructType = StructType.fromDDL(
    "status string, name string, website string, wikidata_id string")

  private val layout = new OsmTags.Layout(Seq("sport", "website", "wikidata"),
    Seq(key), nameRoots = Seq("name"))
  private val Seq(keySlot, sport, website, wikidata) =
    Seq(key, "sport", "website", "wikidata").map(layout.slot)
  private val skiSports =
    Seq("skiing", "ski").map(UTF8String.fromString)

  def eval(tags: MapData): InternalRow = {
    val t = layout.read(tags)
    val st = OsmTags.lifecycle(t, keySlot)
    if (st.dropped || (sportGate && t(sport) != null &&
        !skiSports.contains(t(sport)))) null
    else new GenericInternalRow(Array[Any](st.status, OsmTags.name(t, null),
      t(website), OsmTags.firstValue(t(wikidata))))
  }
}

/** Landuse ways: lifecycle on `landuse`, behind the sport gate. */
object LanduseTagsKernel extends AreaTagsKernel("landuse", sportGate = true) {
  val name = "landusetags"
}

/** Site relations: lifecycle on `site`. */
object SiteTagsKernel extends AreaTagsKernel("site", sportGate = false) {
  val name = "sitetags"
}
