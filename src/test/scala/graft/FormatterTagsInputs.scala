package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Branch-covering tag maps for the lift and ski-area formatters, the
  * inputs of `golden/lift_tags_legacy.txt` and
  * `golden/area_tags_legacy.txt` (CHANGES.md records how those were
  * written). Every input of TagFunctionsSpec is here too: verbatim, and
  * with its `piste:type` key moved to the formatter's lifecycle key.
  */
object FormatterTagsInputs {

  /** TagFunctionsSpec's tag maps and its name/ref and yes/no inputs. */
  val specMaps: Seq[Map[String, String]] = Seq(
    Map("piste:type" -> "downhill"),
    Map("piste:type" -> "downhill", "piste:abandoned" -> "yes"),
    Map("proposed:piste:type" -> "nordic"),
    Map("disused:piste:type" -> "downhill"),
    Map("piste:type" -> "abandoned", "abandoned" -> "downhill"),
    Map("piste:type" -> "demolished"),
    Map("piste:type" -> "razed"),
    Map("piste:type" -> "downhill", "removed" -> "yes"),
    Map("demolished:piste:type" -> "downhill"),
    Map("piste:type" -> "downhill", "proposed:piste:type" -> "nordic"),
    Map("piste:type" -> "downhill", "abandoned" -> "yes"),
    Map("piste:type" -> "downhill", "construction" -> "no"),
    Map("highway" -> "path"),
    Map("ref" -> "d", "loc_ref" -> "c", "piste:ref" -> "b",
      "piste:loc_ref" -> "a"),
    Map("ref" -> "d", "piste:ref" -> "b"),
    Map("ref" -> "d"),
    Map("name" -> "Zeta", "name:en" -> "Alpha", "name:fr" -> "Zeta"),
    Map("other" -> "x"),
    Map("piste:name" -> "Piste", "name" -> "Base"),
    Map("name" -> "Base"),
    Map("name" -> "11 - Peak Chair", "ref" -> "11"),
    Map("name" -> "12 - Foo run", "ref" -> "12"),
    Map("name" -> "12a Bar", "ref" -> "12a"),
    Map("name" -> "Baz", "ref" -> "9"))

  /** TagFunctionsSpec's yes/no inputs. */
  val specBooleans: Seq[String] = Seq("yes", "no", "1", "0", "maybe")

  /** `m` with `piste:type` (bare or state-prefixed) renamed to `key`,
    * and the run values downhill/nordic swapped for `value`.
    */
  private def rekeyed(m: Map[String, String], key: String,
      value: String): Map[String, String] = m.map { case (k, v) =>
    k.replace("piste:type", key) ->
      (if (v == "downhill" || v == "nordic") value else v)
  }

  private val liftOnly: Seq[Map[String, String]] = {
    val lift = "aerialway" -> "chair_lift"
    Seq(
      // lifecycle over aerialway
      Map("aerialway" -> "gondola"),
      Map("proposed:aerialway" -> "gondola"),
      Map("planned:aerialway" -> "t-bar", "construction:aerialway" -> "j-bar"),
      Map("aerialway" -> "disused", "disused" -> "platter"),
      Map("aerialway" -> "proposed"),
      Map("aerialway" -> "abandoned", "abandoned" -> ""),
      Map("aerialway" -> "demolished"),
      Map("aerialway" -> "gondola", "razed" -> "yes"),
      Map("aerialway" -> "gondola", "construction" -> "yes"),
      Map("aerialway" -> "rope_tow", "proposed:aerialway" -> "gondola"),
      // every lift type, and values that are none
      Map("aerialway" -> "cable_car"), Map("aerialway" -> "mixed_lift"),
      Map("aerialway" -> "drag_lift"), Map("aerialway" -> "magic_carpet"),
      Map("aerialway" -> "funicular"), Map("aerialway" -> "railway"),
      Map("aerialway" -> "zip_line"), Map("aerialway" -> "Gondola"),
      Map("aerialway" -> "narrow_gauge"),
      // railway fallback on a null aerialway VALUE
      Map("railway" -> "narrow_gauge"), Map("railway" -> "rail"),
      Map("railway" -> "light_rail"), Map("railway" -> "tram"),
      Map("railway" -> "subway"), Map("railway" -> "monorail"),
      Map("railway" -> "funicular"), Map("railway" -> "abandoned"),
      Map("railway" -> "platform"),
      Map("disused:railway" -> "tram"),
      Map("aerialway" -> "", "railway" -> "funicular"),
      Map("aerialway" -> "junk", "railway" -> "funicular"),
      Map("aerialway" -> "demolished", "railway" -> "funicular"),
      Map("aerialway" -> "proposed", "proposed" -> "", "railway" -> "rail"),
      Map("aerialway" -> "gondola", "railway" -> "rail"),
      Map("aerialway" -> null, "railway" -> "tram"),
      // the drop set
      Map(lift, "passenger" -> "no"), Map(lift, "passenger" -> "yes"),
      Map(lift, "access" -> "no"), Map(lift, "access" -> "forestry"),
      Map(lift, "access" -> "private"), Map(lift, "access" -> "yes"),
      Map(lift, "foot" -> "no"), Map(lift, "foot" -> "private"),
      Map(lift, "foot" -> "yes"), Map(lift, "usage" -> "freight"),
      Map(lift, "usage" -> "industrial"), Map(lift, "usage" -> "tourism"),
      Map(lift, "railway:traffic_mode" -> "freight"),
      Map("railway" -> "rail", "railway:traffic_mode" -> "passenger"),
      Map(lift, "passenger" -> null, "access" -> null),
      // tunnel and access columns
      Map(lift, "tunnel" -> "yes"), Map(lift, "tunnel" -> "no"),
      Map(lift, "tunnel" -> null),
      // names, refs, website, wikidata
      Map(lift, "name" -> "L7 - Apex", "ref" -> "L7"),
      Map(lift, "name" -> "L7- Apex", "piste:ref" -> "L7", "ref" -> "X"),
      Map(lift, "name" -> "L7-Apex", "loc_ref" -> "L7"),
      Map(lift, "name" -> "L7 Apex", "piste:loc_ref" -> "L7"),
      Map(lift, "name" -> "L7Apex", "ref" -> "L7"),
      Map(lift, "name" -> "a.c - X", "ref" -> "a.c"),
      Map(lift, "name:b" -> "Two", "name:a" -> "One", "name" -> "Root"),
      Map(lift, "name:b" -> "Dup", "name:a" -> "Dup"),
      Map(lift, "name" -> ""), Map(lift, "piste:name" -> "Only piste"),
      Map(lift, "name" -> "Çà - ÉTÉ", "ref" -> "Çà"),
      Map(lift, "website" -> "https://x", "wikidata" -> "Q5;Q999"),
      Map(lift, "wikidata" -> ""), Map(lift, "wikidata" -> ";Q1"),
      Map(lift, "name" -> null, "ref" -> null, "wikidata" -> null),
      Map.empty[String, String])
  }

  /** aerialway:duration values: minutes, "m:s", and what is neither. */
  val durations: Seq[String] = Seq("5", "5.5", "2:30", "1:2:3", " 7 ", "",
    " ", "abc", "0x10", "0b101", "0o17", "1e3", "Infinity", "-Infinity",
    "-3", "+2.5", ".5", "5.", ".", "2:xx", " 2 : 30", "2:-30", "+2:+3",
    "1e300", "0.0083333", "-0.5", "2.5e-1", "1.5:2", " 5", "5abc",
    "Infinity:5", ":", "12:", "1e", "1e+", "\uFEFF4\uFEFF", "\u00A05", "0.5",
    "0.0083", "-0.0083", "00:07", "3:59.9", "153722867280912930:7",
    null)

  /** aerialway:occupancy / aerialway:capacity values. */
  val numbers: Seq[String] = Seq("4", "4.7", "-2.9", "2147483647",
    "2147483648", "-2147483648", "-2147483649", "2147483647.9", "1e10",
    "abc", "", " ", "0x1F", "0XfF", "0b11", "0o7", "0x", "Infinity",
    "-Infinity", "NaN", "+5", "-0", "1_000", "4 ", "\t4\n", "1e-400",
    "0xFFFFFFFFFFFFFFFF", null)

  val liftTags: Seq[Map[String, String]] = {
    val lift = "aerialway" -> "chair_lift"
    specMaps ++
      specMaps.map(rekeyed(_, "aerialway", "chair_lift")) ++
      specMaps.map(rekeyed(_, "railway", "tram")) ++
      specMaps.map(_ + lift) ++
      liftOnly ++
      durations.map(d => Map(lift, "aerialway:duration" -> d)) ++
      numbers.map(n => Map(lift, "aerialway:occupancy" -> n,
        "aerialway:capacity" -> n)) ++
      specBooleans.flatMap(b => Seq(
        Map(lift, "aerialway:bubble" -> b, "aerialway:heating" -> b),
        Map(lift, "aerialway:detachable" -> b, "oneway" -> b)))
  }

  private val areaOnly: Seq[Map[String, String]] = Seq(
    Map("abandoned:KEY" -> "winter_sports"),
    Map("KEY" -> "winter_sports", "removed" -> "yes"),
    Map("KEY" -> "winter_sports", "demolished" -> "no"),
    Map("KEY" -> "removed"),
    Map("KEY" -> "planned", "planned" -> "winter_sports"),
    Map("KEY" -> "", "construction" -> "yes"),
    Map("KEY" -> "winter_sports", "name" -> "R1 - Foo", "ref" -> "R1"),
    Map("KEY" -> "winter_sports", "name:b" -> "Dup", "name:a" -> "Dup",
      "name" -> "Root"),
    Map("KEY" -> "winter_sports", "name" -> ""),
    Map("KEY" -> "winter_sports", "website" -> "https://a",
      "wikidata" -> "Q1;Q7"),
    Map("KEY" -> "winter_sports", "wikidata" -> ""),
    Map("KEY" -> "winter_sports", "sport" -> "skiing"),
    Map("KEY" -> "winter_sports", "sport" -> "ski"),
    Map("KEY" -> "winter_sports", "sport" -> "soccer"),
    Map("KEY" -> "winter_sports", "sport" -> "skiing;soccer"),
    Map("KEY" -> "winter_sports", "sport" -> ""),
    Map("KEY" -> "winter_sports", "sport" -> null, "name" -> null,
      "website" -> null),
    Map.empty[String, String])

  /** The tag maps of landuse (`key` landuse) or site relations. */
  def areaTags(key: String): Seq[Map[String, String]] =
    specMaps ++ specMaps.map(rekeyed(_, key, "winter_sports")) ++
      areaOnly.map(_.map { case (k, v) => k.replace("KEY", key) -> v })

  private val tagsType = MapType(StringType, StringType)

  private def frame(spark: SparkSession, rows: Seq[Row],
      fields: StructField*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(fields))

  /** (lift_id, tags), plus one NULL tag map. */
  def lifts(spark: SparkSession): DataFrame =
    frame(spark, (liftTags :+ null).zipWithIndex.map { case (m, i) =>
      Row(i.toLong, m) }, StructField("lift_id", LongType),
      StructField("tags", tagsType))

  /** formatSkiAreas' three inputs: landuse (every tag map on a valid
    * square, the first one also as a LineString and as an open ring),
    * sites, and two Skimap.org areas.
    */
  def areas(spark: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    val square = Seq(Seq(10.0, 46.0), Seq(10.002, 46.0),
      Seq(10.002, 46.002), Seq(10.0, 46.002), Seq(10.0, 46.0))
    val lu = areaTags("landuse")
    val landuse = frame(spark,
      ((lu :+ null).zipWithIndex.map { case (m, i) =>
        Row(i.toLong, m, "Polygon", square) } ++ Seq(
        Row(1000L, lu.head, "LineString", square),
        Row(1001L, lu.head, "Polygon", square.dropRight(1)),
        Row(1002L, lu.head, "MultiPolygon", square))),
      StructField("area_id", LongType), StructField("tags", tagsType),
      StructField("geomType", StringType),
      StructField("coords", ArrayType(ArrayType(DoubleType))))
    val sites = frame(spark,
      (areaTags("site") :+ null).zipWithIndex.map { case (m, i) =>
        Row(i.toLong, m) },
      StructField("site_id", LongType), StructField("tags", tagsType))
    val skimap = frame(spark, Seq(
        Row("sm1", "Big Mountain", Seq("downhill"), "operating",
          "https://skimap.org/1", -120.5, 45.5),
        Row("sm2", null, Seq("downhill", "nordic"), "disused", null,
          10.0, 46.0)),
      StructField("sm_id", StringType), StructField("name", StringType),
      StructField("activities", ArrayType(StringType)),
      StructField("status", StringType), StructField("website", StringType),
      StructField("lon", DoubleType), StructField("lat", DoubleType))
    (landuse, sites, skimap)
  }
}
