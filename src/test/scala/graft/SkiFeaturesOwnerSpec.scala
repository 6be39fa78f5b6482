package graft

import org.scalatest.funsuite.AnyFunSuite

/** The synthesized ski world (anchors, the every-37th-order areas, the
  * hexagon rings, the grid join's cell size and radius) has one owner,
  * `SkiFeatures`: a query that needs it calls `SkiFeatures` (or its
  * `sql` twin in an oracle) instead of copying the formula.
  */
class SkiFeaturesOwnerSpec extends AnyFunSuite {

  private val Owner = "SkiFeatures.scala"

  /** What only the owner may spell out, by name. */
  private val OwnedForms = Seq(
    "area-anchor Column formula" -> """\*\s*(7919\s*,\s*lit\(\s*360000|104729\s*,\s*lit\(\s*120000)""",
    "area-anchor SQL formula" -> """\*\s*(7919\)\s*%\s*360000|104729\)\s*%\s*120000)""",
    "area filter (% 37)" -> """lit\(\s*37\s*\)|%\s*37\s*=\s*0""",
    "hexagon cos/sin table" -> """sqrt\(\s*lit\(\s*3\.0\s*\)\s*\)|lit\(1\.0\),\s*lit\(0\.5\),\s*lit\(-0\.5\)|sqrt\(CAST\(3 AS DOUBLE\)\)""",
    "CellDeg/RadiusM declaration" -> """\bval\s+(CellDeg|RadiusM)\b""")

  /** The one fixture that keeps its own formula: MvtTiles' lift layout
    * swaps the two multipliers (104729 for lon, 7919 for lat), so it is
    * a different fixture, not a copy of the anchor.
    */
  private val MvtLiftFile = "MvtTiles.scala"
  private val MvtLiftForm =
    """\*\s*(104729\s*,\s*lit\(\s*360000|7919\s*,\s*lit\(\s*120000|104729\)\s*%\s*360000|7919\)\s*%\s*120000)""".r

  test("only SkiFeatures spells out the synthesized ski world") {
    assert(MainSources.files.exists(_.getName == Owner),
      s"no $Owner under ${MainSources.root}")
    val offenders = for {
      (path, n, line) <- MainSources.lines(
        MainSources.files.filter(_.getName != Owner))
      (what, re) <- OwnedForms
      if re.r.findFirstIn(line).nonEmpty
    } yield s"$path:$n ($what): ${line.trim}"
    assert(offenders.isEmpty,
      s"copies of the synthesized ski world outside $Owner; call " +
        "SkiFeatures (or SkiFeatures.sql in an oracle) instead:\n" +
        offenders.mkString("\n"))
  }

  test("the swapped lift layout stays MvtTiles' own exception") {
    val hits = for {
      (path, n, line) <- MainSources.lines()
      if MvtLiftForm.findFirstIn(line).nonEmpty
    } yield (new java.io.File(path).getName, s"$path:$n: ${line.trim}")
    assert(hits.map(_._1).toSet == Set(MvtLiftFile),
      s"the swapped-multiplier lift formula belongs to $MvtLiftFile only:\n" +
        hits.map(_._2).mkString("\n"))
  }
}
