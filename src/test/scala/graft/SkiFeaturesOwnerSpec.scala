package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each fixture formula of the synthesized ski world has one owner: a
  * query that needs it calls the owner (or its SQL twin in an oracle)
  * instead of copying the formula. `SkiFeatures` owns the anchors, the
  * every-37th-order areas, the hexagon rings, the grid join's cell size
  * and radius, and the every-23rd-order lifts (their line and their
  * clustering nodes); `SkiQueries` the partial-overlap duplicate runs;
  * `Normalization` the 1e-7° quantizer; `GridJoin` the oracles' cell
  * walk. The sinks' rules have one owner each too: `Statistics` the
  * lift-serviced elevations, `Formatters` the id parts of runs, lifts,
  * ski areas and spots, `HashFunctions` the content-id hash, and
  * `GeoFunctions` the oracles' segment snap. `OsmTags` owns the OSM tag
  * rules every formatter kernel reads tags through. `SkiQueries` owns
  * the spot fixture: `formattedSpots` (the events' spot tags and the
  * station and crossing attributes every spot sink renders) and its
  * DuckDB twin `spotOracleCtes`.
  */
class SkiFeaturesOwnerSpec extends AnyFunSuite {

  /** The spot fixture's forms, owned by `SkiQueries`. Not `% 97` alone:
    * GeoPackage's merge and RangeJoin use it for other fixtures.
    */
  private val SpotForms = Seq(
    ("event type to spot type mapping",
      """isin\(\s*"click",\s*"purchase"\)|===\s*"click",\s*array\(lit\("crossing"\)\)|'click'\s+THEN\s+\['crossing'\]""",
      "SkiQueries.scala"),
    ("lift-station name", """"Station "|'Station '""", "SkiQueries.scala"),
    ("lift-station lift id", """lit\(\s*"lift_"\s*\)|'lift_'\s*\|\|""",
      "SkiQueries.scala"))

  /** What only its owner may spell out: (what, pattern, owner file). */
  private val OwnedForms = SpotForms ++ Seq(
    ("area-anchor Column formula",
      """\*\s*(7919\s*,\s*lit\(\s*360000|104729\s*,\s*lit\(\s*120000)""",
      "SkiFeatures.scala"),
    ("area-anchor SQL formula",
      """\*\s*(7919\)\s*%\s*360000|104729\)\s*%\s*120000)""",
      "SkiFeatures.scala"),
    ("area filter (% 37)", """lit\(\s*37\s*\)|%\s*37\s*=\s*0""",
      "SkiFeatures.scala"),
    ("hexagon cos/sin table",
      """sqrt\(\s*lit\(\s*3\.0\s*\)\s*\)|lit\(1\.0\),\s*lit\(0\.5\),\s*lit\(-0\.5\)|sqrt\(CAST\(3 AS DOUBLE\)\)""",
      "SkiFeatures.scala"),
    ("CellDeg/RadiusM declaration", """\bval\s+(CellDeg|RadiusM)\b""",
      "SkiFeatures.scala"),
    ("lift filter (% 23)", """lit\(\s*23\s*\)|%\s*23\s*=\s*0""",
      "SkiFeatures.scala"),
    // not Pii's `* 37 + 100000000` account numbers
    ("lift-node offset (+ 100000000)",
      """(?<!37\s)\+\s*100000000L?(?![\d.])""", "SkiFeatures.scala"),
    ("lift line steps (0.0012 / 0.0004)", """(?<![\d.])0\.00(12|04)(?!\d)""",
      "SkiFeatures.scala"),
    ("partial-overlap duplicate props (\"ZDUP\")", "\"ZDUP\"",
      "SkiQueries.scala"),
    ("1e7 quantizer, Column form", """\*\s*1e7\s*\+\s*when\(""",
      "Normalization.scala"),
    ("1e7 quantizer, SQL form", """\*\s*10000000\)\s*\+\s*0\.5""",
      "Normalization.scala"),
    ("oracle cell walk (unnest([-1, 0, 1]))", """unnest\(\s*\[\s*-\d""",
      "GridJoin.scala"),
    ("oracle closure walk (cx BETWEEN cx - 1)",
      """BETWEEN\s+\S*c[xy]\s*-\s*\d""", "GridJoin.scala"),
    ("lift-serviced elevation rule", """greatest\(col\("run_min"\)|greatest\(run_min""",
      "Statistics.scala"),
    ("content-id hash, Column form", """md5\(concat_ws\(\s*"\|"""",
      "HashFunctions.scala"),
    ("content-id hash, SQL form", """md5\(concat_ws\(\s*'\|'""",
      "HashFunctions.scala"),
    ("run/lift/ski-area/spot id parts",
      """contentId\(\s*lit\(\s*"(run|lift|skiArea|spot)"|md5\(\s*'(skiArea|spot)\||"'(run|lift|skiArea|spot)'"""",
      "Formatters.scala"),
    ("oracle segment snap clamp (ax * ddx + ay * ddy)",
      """ax\s*\*\s*ddx\s*\+\s*ay\s*\*\s*ddy""", "GeoFunctions.scala"),
    // not Similarity's `s"$j:$i"` digest seeds
    ("{state}:{key} prefixed lifecycle key",
      """(states|element_at|tags)\b.*s"\$\{?\w+\}?:|s"\$\{?\w+\}?:.*\b(states|element_at|tags)""",
      "OsmTags.scala"),
    ("map_filter over tags", """map_filter\(""", "OsmTags.scala"),
    ("ref-prefix strip regex", """\\{1,2}s\*-\?\\{1,2}s\+""", "OsmTags.scala"))

  /** The owners of the sinks' per-area and per-feature rules. */
  private val SinkOwners = Set("Statistics.scala", "Formatters.scala",
    "HashFunctions.scala", "GeoFunctions.scala")

  /** The owner of the OSM tag rules. */
  private val TagOwner = "OsmTags.scala"

  /** The offending lines: a form outside its owner. */
  private def copies(forms: Seq[(String, String, String)]): Seq[String] = {
    for ((_, _, owner) <- forms)
      assert(MainSources.files.exists(_.getName == owner),
        s"no $owner under ${MainSources.root}")
    for {
      (path, n, line) <- MainSources.lines()
      (what, re, owner) <- forms
      if new java.io.File(path).getName != owner
      if re.r.findFirstIn(line).nonEmpty
    } yield s"$path:$n ($what, owned by $owner): ${line.trim}"
  }

  test("only SkiFeatures spells out the synthesized ski world") {
    val offenders = copies(OwnedForms.filter(_._3 == "SkiFeatures.scala"))
    assert(offenders.isEmpty,
      "copies of the synthesized ski world outside SkiFeatures; call " +
        "SkiFeatures (or SkiFeatures.sql in an oracle) instead:\n" +
        offenders.mkString("\n"))
  }

  test("the duplicate-run input, the quantizer and the oracle walk each have one owner") {
    val offenders = copies(OwnedForms.filter(f => f._3 != "SkiFeatures.scala" &&
      !SinkOwners(f._3) && f._3 != TagOwner && !SpotForms.contains(f)))
    assert(offenders.isEmpty,
      "copies outside their owner; call the owner (or its SQL twin in an " +
        "oracle) instead:\n" + offenders.mkString("\n"))
  }

  test("the elevation rule, the feature ids and the segment snap each have one owner") {
    val offenders = copies(OwnedForms.filter(f => SinkOwners(f._3)))
    assert(offenders.isEmpty,
      "copies outside their owner; select the owner's column (or call its " +
        "SQL twin in an oracle) instead:\n" + offenders.mkString("\n"))
  }

  test("the OSM tag rules each have one owner") {
    val offenders = copies(OwnedForms.filter(_._3 == TagOwner))
    assert(offenders.isEmpty,
      "copies of an OSM tag rule outside OsmTags; read the tags through " +
        "an OsmTags.Layout and call its rules instead:\n" +
        offenders.mkString("\n"))
  }

  test("the spot fixture has one owner") {
    val offenders = copies(SpotForms)
    assert(offenders.isEmpty,
      "copies of the spot fixture outside SkiQueries; select from " +
        "SkiQueries.formattedSpots (or SkiQueries.spotOracleCtes' sfmt in " +
        "an oracle) instead:\n" + offenders.mkString("\n"))
  }

  /** The files whose lines match `form`. */
  private def filesWith(form: String): (Set[String], Seq[String]) = {
    val hits = for {
      (path, n, line) <- MainSources.lines()
      if form.r.findFirstIn(line).nonEmpty
    } yield (new java.io.File(path).getName, s"$path:$n: ${line.trim}")
    (hits.map(_._1).toSet, hits.map(_._2))
  }

  /** MvtTiles' lift layout swaps the two anchor multipliers (104729 for
    * lon, 7919 for lat), so it is a different fixture, not a copy of the
    * anchor.
    */
  test("the swapped lift layout stays MvtTiles' own exception") {
    val (files, hits) = filesWith(
      """\*\s*(104729\s*,\s*lit\(\s*360000|7919\s*,\s*lit\(\s*120000|104729\)\s*%\s*360000|7919\)\s*%\s*120000)""")
    assert(files == Set("MvtTiles.scala"),
      "the swapped-multiplier lift formula belongs to MvtTiles.scala " +
        "only:\n" + hits.mkString("\n"))
  }

  /** LiftStations picks its lifts from every 3rd order, not every 23rd
    * ([[graft.operators.SkiFeatures.isLift]]); only their line comes from
    * SkiFeatures.
    */
  test("the every-3rd-order lift selection stays LiftStations' own exception") {
    val (files, hits) = filesWith(
      """WHERE\s+o_orderkey\s*%\s*3\s*=\s*0|filter\(\s*pmod\(\s*(k|col\("o_orderkey"\))\s*,\s*lit\(3\)\)\s*===\s*0""")
    assert(files == Set("LiftStations.scala") && hits.size == 2,
      "the every-3rd-order lift selection belongs to LiftStations.scala " +
        "only, once per engine:\n" + hits.mkString("\n"))
  }
}
