package graft

import graft.operators.{OutputFormats, Statistics}
import org.apache.spark.sql.functions._

/** The sinks' per-area rules agree across the two engines: the
  * lift-serviced elevation rule ([[Statistics.servicedElevation]]) and its
  * DuckDB twin over the same rows, and the CSV surface-lift set over every
  * lift type. DuckDB runs through `python3 -c` with the installed `duckdb`
  * module.
  */
class AreaRollupSpec extends SparkSpec {

  /** Runs `sql` in DuckDB; returns each result row as `a|b|…`, NULL as
    * "null".
    */
  private def duck(sql: String): Seq[String] = {
    val script =
      s"""import duckdb
         |for r in duckdb.connect().execute(${"\"\"\""}$sql${"\"\"\""}).fetchall():
         |    print('|'.join('null' if v is None else str(v) for v in r))
         |""".stripMargin
    val p = new ProcessBuilder("python3", "-c", script)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8")
    assert(p.waitFor() == 0, s"python failed:\n$out")
    out.linesIterator.toSeq
  }

  private def show(v: Any): String = if (v == null) "null" else v.toString

  test("servicedElevation equals its SQL twin on present, missing and disjoint sides") {
    // (id, run_min, run_max, lift_min, lift_max) -> expected (mn, mx)
    val cases = Seq(
      (1, Some(100.0), Some(900.0), Some(300.0), Some(1200.0)) -> "300.0|900.0",
      (2, None, None, Some(250.0), Some(700.0)) -> "250.0|700.0",
      (3, Some(120.0), Some(800.0), None, None) -> "120.0|800.0",
      (4, None, None, None, None) -> "null|null",
      // disjoint: the lifts start above the runs' top
      (5, Some(100.0), Some(200.0), Some(500.0), Some(900.0)) -> "500.0|200.0",
      (6, None, Some(400.0), Some(150.0), None) -> "150.0|400.0")
    import spark.implicits._
    val (mn, mx) = Statistics.servicedElevation
    val sparkRows = cases.map(_._1).toDF("id", "run_min", "run_max",
        "lift_min", "lift_max")
      .select(col("id"), mn, mx).orderBy("id").collect()
      .map(r => s"${r.getInt(0)}|${show(r.get(1))}|${show(r.get(2))}").toSeq
    assert(sparkRows == cases.map { case (c, e) => s"${c._1}|$e" })

    def v(x: Option[Double]) = s"CAST(${x.fold("NULL")(_.toString)} AS DOUBLE)"
    val values = cases.map { case ((id, a, b, c, d), _) =>
      s"($id, ${v(a)}, ${v(b)}, ${v(c)}, ${v(d)})" }.mkString(", ")
    val (smn, smx) = Statistics.sql.servicedElevation
    val duckRows = duck(
      s"""SELECT id, $smn, $smx FROM (VALUES $values)
         |  AS t(id, run_min, run_max, lift_min, lift_max) ORDER BY id""".stripMargin)
    assert(duckRows == sparkRows)
  }

  test("surface lifts are CSVFormatter's six of the twelve lift types, in both engines") {
    val types = OutputFormats.LiftTypeText.keys.toSeq.sorted
    assert(types.size == 12)
    val expected = Seq("drag_lift", "j-bar", "magic_carpet", "platter",
      "rope_tow", "t-bar")
    import spark.implicits._
    val sparkSurface = types.toDF("t")
      .filter(col("t").isin(OutputFormats.SurfaceLiftTypes: _*))
      .orderBy("t").as[String].collect().toSeq
    assert(sparkSurface == expected)
    val values = types.map(t => s"('$t')").mkString(", ")
    assert(duck(s"""SELECT t FROM (VALUES $values) AS v(t)
                   |  WHERE t IN (${OutputFormats.sqlSurfaceLiftTypes})
                   |  ORDER BY t""".stripMargin) == expected)
  }
}
