package graft

import graft.functions.OsmTags
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.unsafe.types.UTF8String

/** Golden cases for the OSM tag rules ([[graft.functions.OsmTags]]),
  * mirroring the reference's Status/OSMTransforms unit-test
  * expectations (SURVEY §5). FormatterTagsSpec checks these inputs
  * through the lift and ski-area kernels too.
  */
class TagFunctionsSpec extends SparkSpec {

  private def read(layout: OsmTags.Layout,
      tags: Map[String, String]): OsmTags.Tags =
    layout.read(ArrayBasedMapData(
      tags.keys.map(UTF8String.fromString).toArray[Any],
      tags.values.map(UTF8String.fromString).toArray[Any]))

  private def str(v: UTF8String): String =
    if (v == null) null else v.toString

  private val pisteType = new OsmTags.Layout(Nil, Seq("piste:type"))

  private def statusOf(tags: Map[String, String]): (String, String) = {
    val st = OsmTags.lifecycle(read(pisteType, tags),
      pisteType.slot("piste:type"))
    (str(st.status), str(st.value))
  }

  private val names = new OsmTags.Layout(Nil, nameRoots = Seq("name"))

  /** The name of `tags` under `layout`, stripped of its ref's prefix. */
  private def nameOf(layout: OsmTags.Layout, tags: Map[String, String],
      strip: Boolean = false): String = {
    val t = read(layout, tags)
    str(OsmTags.name(t, if (strip) OsmTags.ref(t) else null))
  }

  test("plain base tag → operating") {
    assert(statusOf(Map("piste:type" -> "downhill")) == ("operating", "downhill"))
  }

  test("piste:abandoned=yes → abandoned at the run-formatter level") {
    // Status.ts itself does not know piste:abandoned — the override
    // lives in RunFormatter.getStatusAndUses (formatRuns here).
    assert(statusOf(Map("piste:type" -> "downhill", "piste:abandoned" -> "yes"))
      == ("operating", "downhill"))
    import spark.implicits._
    val df = operators.Formatters.formatRuns(
      Seq((1L, Map("piste:type" -> "downhill", "piste:abandoned" -> "yes"),
        Seq(Seq(0.0, 0.0), Seq(0.001, 0.0)))).toDF("way_id", "tags", "coords"))
    assert(df.select("status").collect().head.getString(0) == "abandoned")
  }

  test("prefixed lifecycle key → that state") {
    assert(statusOf(Map("proposed:piste:type" -> "nordic")) == ("proposed", "nordic"))
    assert(statusOf(Map("disused:piste:type" -> "downhill")) == ("disused", "downhill"))
  }

  test("base value is a state name → that state, value from state key") {
    assert(statusOf(Map("piste:type" -> "abandoned", "abandoned" -> "downhill"))
      == ("abandoned", "downhill"))
  }

  test("base value demolished/removed/razed → dropped") {
    assert(statusOf(Map("piste:type" -> "demolished"))._1 == "dropped")
    assert(statusOf(Map("piste:type" -> "razed"))._1 == "dropped")
  }

  test("bare removed=yes → dropped even with a live base tag") {
    assert(statusOf(Map("piste:type" -> "downhill", "removed" -> "yes"))._1
      == "dropped")
  }

  test("demolished:prefixed key alone is NOT consulted (Status.ts)") {
    // base key absent, only a demolished: prefix → falls through to
    // operating with null value (callers drop on empty uses)
    assert(statusOf(Map("demolished:piste:type" -> "downhill"))
      == ("operating", null))
  }

  test("prefixed key is ignored when the base key is present") {
    assert(statusOf(Map("piste:type" -> "downhill",
      "proposed:piste:type" -> "nordic")) == ("operating", "downhill"))
  }

  test("bare state=yes overrides operating") {
    assert(statusOf(Map("piste:type" -> "downhill", "abandoned" -> "yes"))
      == ("abandoned", "downhill"))
    // =no does not fire
    assert(statusOf(Map("piste:type" -> "downhill", "construction" -> "no"))
      == ("operating", "downhill"))
  }

  test("no piste tags → operating with null value (reference fallthrough)") {
    assert(statusOf(Map("highway" -> "path")) == ("operating", null))
  }

  test("osmRef precedence piste:loc_ref > piste:ref > loc_ref > ref") {
    val got = Seq(
      Map("ref" -> "d", "loc_ref" -> "c", "piste:ref" -> "b", "piste:loc_ref" -> "a"),
      Map("ref" -> "d", "piste:ref" -> "b"),
      Map("ref" -> "d")).map(m => str(OsmTags.ref(read(names, m))))
    assert(got == Seq("a", "b", "d"))
  }

  test("osmName emits values in KEY-sorted order, uniqued, comma-joined") {
    // primary 'name' key sorts first even when its value sorts last
    val got = Seq(
      Map("name" -> "Zeta", "name:en" -> "Alpha", "name:fr" -> "Zeta"),
      Map("other" -> "x")).map(nameOf(names, _))
    assert(got == Seq("Zeta, Alpha", null))
  }

  test("osmName falls back to the fallback root key (piste:name > name)") {
    val fallback = new OsmTags.Layout(Nil, nameRoots = Seq("piste:name", "name"))
    val got = Seq(
      Map("piste:name" -> "Piste", "name" -> "Base"),
      Map("name" -> "Base")).map(nameOf(fallback, _))
    assert(got == Seq("Piste", "Base"))
  }

  test("osmName strips the ref prefix") {
    assert(nameOf(names, Map("name" -> "11 - Peak Chair", "ref" -> "11"),
      strip = true) == "Peak Chair")
  }

  test("stripRefPrefix removes leading ref") {
    val got = Seq(("12 - Foo run", "12"), ("12a Bar", "12a"), ("Baz", "9"))
      .map { case (n, r) => nameOf(names, Map("name" -> n, "ref" -> r),
        strip = true) }
    assert(got == Seq("Foo run", "Bar", "Baz"))
  }

  test("tagBoolean maps strictly yes/no (reference mapOSMBoolean)") {
    val got = Seq("yes", "no", "1", "0", "maybe")
      .map(v => OsmTags.yesNo(UTF8String.fromString(v)))
    assert(got == Seq(true, false, null, null, null))
  }

  test("formatRuns end to end on a hand-built feature") {
    import spark.implicits._
    val feature = (1L,
      Map("piste:type" -> "Downhill;junk", "piste:difficulty" -> "expert",
        "name" -> "Test run", "piste:ref" -> "7"),
      Seq(Seq(0.0, 0.0, 100.0), Seq(0.001, 0.0, 110.0)))
    val df = operators.Formatters.formatRuns(
      Seq(feature).toDF("way_id", "tags", "coords"))
    val r = df.select("status", "uses", "difficulty", "grooming", "oneway", "kept")
      .collect().head
    assert(r.getString(0) == "operating")
    assert(r.getSeq[String](1) == Seq("downhill"))
    assert(r.getString(2) == "expert")
    assert(r.getString(3) == "backcountry") // expert + no grooming tag
    assert(r.getBoolean(4)) // downhill defaults oneway=true
    assert(r.getBoolean(5))
  }
}
