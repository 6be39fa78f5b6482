package graft.operators

import graft.functions.GeoFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The grid-cell join (J1, SURVEY §4.2): the one cell-neighbourhood
  * join every proximity and containment operator composes, and the
  * walk [[graft.plans.DistanceJoinRule]] plans `graft_st_dwithin` with.
  *
  * The reference finds pairs with PostGIS `ST_DWithin`, complete at
  * any latitude. Here the rows of one side explode to the cells of
  * their neighbourhood and meet the other side's rows in those cells
  * in an equi-join. A walking row explodes to distinct cells and a
  * celled row has one, so a pair meets at most once. A metric walk
  * ([[Within]]) is latitude-aware: a cell spans `cellDeg × 111 km ×
  * cos(lat)` east–west, so the longitude half-width grows toward the
  * poles.
  *
  * Broadcast is chosen per call from a size the code already has, and
  * each call logs its choice at INFO on the `graft.GridJoin` logger.
  * The caller names the side it expects to be small (`build`); that
  * side alone is sized, and broadcast when its bytes fit within
  * `spark.sql.autoBroadcastJoinThreshold`. Otherwise the join is
  * partitioned, with no hint.
  */
object GridJoin {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.GridJoin")

  /** Metres in a degree of arc on the haversine sphere. WGS84's
    * longer equatorial degree (111,320 m) would size the walk up to
    * 0.11% short of the radius the refine accepts.
    */
  private val MPerDeg = GeoFunctions.EarthRadiusM * math.Pi / 180.0

  /** How far a left row's neighbourhood reaches. */
  sealed trait Reach

  /** Every right point within `radiusM` metres of the left point.
    * With `refine`, only pairs within the radius (haversine) are
    * kept; without it the join returns the candidates, for callers
    * whose right point is a vertex of a geometry they refine against.
    */
  final case class Within(radiusM: Double, refine: Boolean = true)
    extends Reach

  /** ±`n` cells on both axes: a degree-space neighbourhood, no refine. */
  final case class Cells(n: Int) extends Reach

  /** Latitude half-width in cells of a walk within `radiusM`. */
  def latHalfWidth(radiusM: Double, cellDeg: Double): Long =
    math.max(1L, math.ceil(radiusM / MPerDeg / cellDeg).toLong)

  /** Longitude half-width in cells of a walk within `radiusM` from a
    * point at `lat`: `max(1, ceil(radius in lon degrees at the equator
    * / cellDeg / cos(reachable lat)))`. The reachable latitude is
    * |lat| plus the radius in degrees, clamped to 89.9°: the walk is
    * complete up to 89.9° less the radius, and the polar caps beyond
    * are, like the antimeridian, out of contract.
    */
  def lonHalfWidth(lat: Expression, radiusM: Double,
      cellDeg: Double): Expression = {
    val reachLat = Least(Seq(
      Add(Abs(Cast(lat, DoubleType)), Literal(radiusM / MPerDeg)),
      Literal(89.9)))
    Greatest(Seq(
      Ceil(Divide(Literal(radiusM / MPerDeg / cellDeg),
        Cos(Multiply(reachLat, Literal(math.Pi / 180.0))))),
      Literal(1L)))
  }

  /** Cells a row at `lat` walks to: its rows after the walk. */
  def walkCells(lat: Column, cellDeg: Double, reach: Reach): Column = {
    val (xr, yr) = halfWidths(lat, cellDeg, reach)
    (xr * 2 + 1) * (yr * 2 + 1)
  }

  /** The DuckDB twin of a walk, for the oracles: a SELECT of `cols`
    * and, per row of `from` at (`lon`, `lat`), each cell it walks to,
    * named `out`. It walks a fixed square of a [[Within]] walk's
    * latitude half-width on both axes, so at a 500 m radius on the
    * 0.01° grid it is exact up to about |lat| 63° (FIXTURES.md); an
    * oracle walk that widens with latitude belongs here and in
    * [[sqlNear]].
    */
  def sqlWalk(cols: String, lon: String, lat: String, from: String,
      cellDeg: Double, reach: Reach,
      out: (String, String) = ("cx", "cy")): String = {
    val n = sqlHalfWidth(cellDeg, reach)
    val offsets = (-n to n).mkString("[", ", ", "]")
    def cell(x: String) = s"CAST(floor($x / $cellDeg) AS BIGINT)"
    s"""SELECT $cols,
       |    ${cell(lon)} + i AS ${out._1}, ${cell(lat)} + j AS ${out._2}
       |  FROM $from, unnest($offsets) AS ui(i), unnest($offsets) AS uj(j)""".stripMargin
  }

  /** The same walk as a join condition, for the oracles' recursive
    * closures: the cell (`b`.cx, `b`.cy) is one the cell of row `a`
    * walks to.
    */
  def sqlNear(a: String, b: String, cellDeg: Double, reach: Reach): String = {
    val n = sqlHalfWidth(cellDeg, reach)
    s"""$b.cx BETWEEN $a.cx - $n AND $a.cx + $n
       |    AND $b.cy BETWEEN $a.cy - $n AND $a.cy + $n""".stripMargin
  }

  private def sqlHalfWidth(cellDeg: Double, reach: Reach): Long = reach match {
    case Within(m, _) => latHalfWidth(m, cellDeg)
    case Cells(k) => k.toLong
  }

  private def halfWidths(lat: Column, cellDeg: Double,
      reach: Reach): (Column, Column) = reach match {
    case Within(m, _) => (column(lonHalfWidth(expression(lat), m, cellDeg)),
      lit(latHalfWidth(m, cellDeg)))
    case Cells(n) => (lit(n.toLong), lit(n.toLong))
  }

  /** The side of a grid join to try to broadcast: the one the caller
    * knows to be small.
    */
  sealed trait Build
  case object BuildLeft extends Build
  case object BuildRight extends Build

  private val CellX = "gj_cx"
  private val CellY = "gj_cy"

  /** Joins `left` to `right` on the grid: each point's neighbourhood
    * (`reach`) on one side against each point's cell on the other,
    * plus the extra equi-join `keys`. `leftPt`/`rightPt` are (lon, lat)
    * columns over their own side; the refine reads both after the
    * join, so their names must not clash. A coordinate that is null,
    * not finite or beyond ±360° never matches. Returns every column of
    * both sides, keys once.
    *
    * `build` is the side to broadcast if it fits. A broadcast join
    * walks the left side; a partitioned one walks the build side, so
    * the fewest rows cross the exchange. Either way a pair meets once
    * and the refined pairs are the same, since every walk reaches all
    * points within the radius of its own.
    *
    * The build side's bytes are, for the left, its rows after the walk
    * and, for the right, its rows, times Spark's per-row size of their
    * columns; `buildRows` is that row count when the caller counted
    * it (for the left, the sum of [[walkCells]]). Without it the side
    * is sized by Catalyst's estimate; for the left, times the cells of
    * a ±1 longitude walk, a lower bound where a walk is wider (|lat|
    * above about 63° at a 500 m radius on the 0.01° grid).
    *
    * `distinctRight`, when non-empty, keeps one right row per cell for
    * rows that agree on those columns: enough for callers whose right
    * points are the vertices of one geometry and whose refine reads
    * the whole geometry.
    */
  def apply(left: DataFrame, right: DataFrame,
      leftPt: (Column, Column), rightPt: (Column, Column),
      cellDeg: Double, reach: Reach, keys: Seq[String] = Nil,
      build: Build = BuildLeft, buildRows: Option[Long] = None,
      distinctRight: Seq[String] = Nil): DataFrame = {
    // NaN, ±Inf and |c| > 360 get no cell: floor(c / cellDeg) would
    // saturate and the walk's cx ± xr overflow under ANSI
    def cell(c: Column) = when(abs(c) <= 360.0, floor(c / cellDeg))
    def celled(df: DataFrame, pt: (Column, Column)) = df
      .withColumn(CellX, cell(pt._1))
      .withColumn(CellY, cell(pt._2))
    def walked(df: DataFrame, pt: (Column, Column)) = {
      val (xr, yr) = halfWidths(pt._2, cellDeg, reach)
      val (cx, cy) = (cell(pt._1), cell(pt._2))
      df.withColumn(CellX, explode(sequence(cx - xr, cx + xr)))
        .withColumn(CellY, explode(sequence(cy - yr, cy + yr)))
    }
    val right1 =
      if (distinctRight.isEmpty) right
      else celled(right, rightPt)
        .dropDuplicates(distinctRight ++ Seq(CellX, CellY))
        .drop(CellX, CellY)
    val (side, sized, perRow) = (build, reach) match {
      case (BuildLeft, Within(m, _)) =>
        (walked(left, leftPt), left, 3 * (2 * latHalfWidth(m, cellDeg) + 1))
      case (BuildLeft, Cells(n)) =>
        (walked(left, leftPt), left, (2L * n + 1) * (2L * n + 1))
      case (BuildRight, _) => (celled(right1, rightPt), right1, 1L)
    }
    val bytes = buildRows match {
      case Some(n) =>
        n * EstimationUtils.getSizePerRow(side.queryExecution.analyzed.output)
      case None => perRow * sized.queryExecution.optimizedPlan.stats.sizeInBytes
    }
    val threshold = left.sparkSession.sessionState.conf
      .autoBroadcastJoinThreshold
    val fits = bytes <= threshold
    val name = if (build == BuildLeft) "left" else "right"
    log.info(s"broadcast ${if (fits) name else "none"}: $name $bytes B (" +
      buildRows.fold("estimated")(n => s"$n rows counted") +
      s"), threshold $threshold B")
    val (l, r) = (fits, build) match {
      case (true, BuildLeft) => (broadcast(side), celled(right1, rightPt))
      case (true, BuildRight) => (walked(left, leftPt), broadcast(side))
      case (false, BuildLeft) => (side, celled(right1, rightPt))
      case (false, BuildRight) => (celled(left, leftPt), walked(right1, rightPt))
    }
    val joined = l.join(r, keys ++ Seq(CellX, CellY)).drop(CellX, CellY)
    reach match {
      case Within(m, true) => joined.filter(GeoFunctions.haversineM(
        leftPt._1, leftPt._2, rightPt._1, rightPt._2) <= m)
      case _ => joined
    }
  }
}
