package graft

import graft.operators.{Clustering, GridJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.{BuildRight, BuildSide}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Value-identity pin for the grid join's broadcast choice:
  * `cellCandidates` (and every [[GridJoin]] call) broadcasts a side
  * only when its size fits within `spark.sql.autoBroadcastJoinThreshold`.
  * At the default threshold these tiny inputs broadcast the areas; a
  * 1-byte threshold forces the partitioned join, which walks the areas
  * instead of the runs. The candidate (area, run) multiset must be
  * identical in both strategies — including multiplicity (MultiPart
  * counts joined rows without a dedup) and null-coordinate behavior.
  */
class CellCandidatesSpec extends SparkSpec {
  import spark.implicits._

  private val Cell = 0.01

  private def areasDf = Seq(
    // anchors in distinct cells, one shared cell, one far away
    (1L, 0.005, 0.005),
    (2L, 0.006, 0.004),  // same cell as area 1
    (3L, 0.025, 0.005),  // two cells right of area 1
    (4L, 5.0, 5.0)       // far from every run
  ).toDF("area_id", "alon", "alat")
    .withColumn("ring", array(array(col("alon"), col("alat"))))

  private def runsDf = Seq(
    (10L, Some(Seq(Seq(0.004, 0.004), Seq(0.0045, 0.0045)))), // cell (0,0)
    (11L, Some(Seq(Seq(0.015, 0.005)))),                      // cell (1,0)
    (12L, Some(Seq(Seq(0.045, 0.005)))),                      // cell (4,0)
    (13L, Some(Seq(Seq(-0.015, -0.015)))),                    // cell (-2,-2)
    (14L, None)                                               // null coords
  ).toDF("way_id", "coords")

  /** Collects (a, b) id pairs under the chosen strategy, checking the
    * executed plan took it, and built its broadcast on `build`.
    */
  private def collect(broadcastOn: Boolean, build: Option[BuildSide] = None)(
      df: => DataFrame): Seq[(Long, Long)] = {
    if (!broadcastOn)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val d = df
      val out = d.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val broadcasts = planNodes(d.queryExecution.executedPlan)
        .collect { case j: BroadcastHashJoinExec => j }
      assert(broadcasts.nonEmpty == broadcastOn,
        d.queryExecution.executedPlan.toString)
      build.foreach(b => assert(broadcasts.forall(_.buildSide == b),
        d.queryExecution.executedPlan.toString))
      out.sorted
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def pairs(reach: Int, broadcastOn: Boolean): Seq[(Long, Long)] =
    // the areas are the side containment broadcasts
    collect(broadcastOn, Some(BuildRight))(Clustering.cellCandidates(
      areasDf, runsDf, Cell, reach).select("area_id", "way_id"))
  test("broadcast and exchange strategies produce the identical candidate multiset (reach=1)") {
    val b = pairs(1, broadcastOn = true)
    val e = pairs(1, broadcastOn = false)
    assert(b == e, s"broadcast=$b exchange=$e")
    // sanity: the shared-cell areas both pair with run 10 and 11;
    // the far area and the null/empty-coords runs never appear
    assert(b.contains((1L, 10L)) && b.contains((2L, 10L)) &&
      b.contains((1L, 11L)))
    assert(!b.exists(_._1 == 4L))
    assert(!b.exists(_._2 == 14L))
  }

  test("broadcast and exchange strategies produce the identical candidate multiset (reach=2)") {
    val b = pairs(2, broadcastOn = true)
    val e = pairs(2, broadcastOn = false)
    assert(b == e, s"broadcast=$b exchange=$e")
    // reach=2 picks up the two-cells-away pairs reach=1 misses
    assert(b.contains((3L, 10L)) && b.contains((3L, 12L)))
    assert(!b.contains((1L, 12L))) // 4 cells apart stays out
  }

  test("every candidate pair appears exactly once per strategy") {
    for (on <- Seq(true, false); reach <- Seq(1, 2)) {
      val p = pairs(reach, on)
      assert(p == p.distinct, s"duplicate candidates at reach=$reach broadcast=$on")
    }
  }

  test("radius path: both strategies give the brute-force pairs") {
    // first vertices of runs 10..13 as points; 1200 m is more than one
    // 0.01° cell, so the walk widens to ±2 cells on both axes
    val pts = Seq((10L, 0.004, 0.004), (11L, 0.015, 0.005),
      (12L, 0.045, 0.005), (13L, -0.015, -0.015))
      .toDF("way_id", "lon", "lat")
      .unionByName(Seq((14L, Option.empty[Double], Option.empty[Double]))
        .toDF("way_id", "lon", "lat"))
    def within(on: Boolean, radius: Double) = collect(on)(GridJoin(
      areasDf.select("area_id", "alon", "alat"), pts,
      (col("alon"), col("alat")), (col("lon"), col("lat")), Cell,
      GridJoin.Within(radius)).select("area_id", "way_id"))
    val truth = areasDf.crossJoin(pts)
      .filter(graft.functions.GeoFunctions.haversineM(col("alon"),
        col("alat"), col("lon"), col("lat")) <= 1200.0)
      .select("area_id", "way_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val b = within(on = true, 1200.0)
    val e = within(on = false, 1200.0)
    assert(b == e, s"broadcast=$b exchange=$e")
    assert(b == truth)
    assert(b.contains((1L, 10L)) && b.contains((3L, 11L)))
    assert(!b.exists(_._2 == 14L))
  }
}
