package graft.operators

import graft.QuerySpec
import graft.functions.GeoFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import SkiFeatures.CellDeg

/** Lift-station association (SURVEY clustering step 8 + G3,
  * `/root/reference/src/clustering/LiftStationAssociator.ts:12-214`):
  * every lift station searches lifts within 30 m, snaps to the nearest
  * point on the best lift's line (min distance, lift id tie-break —
  * the reference tie-breaks by shared ski area, canonicalized here),
  * infers its top/mid/bottom position from the station's ORIGINAL
  * elevation against the lift's elevation range (bottom ≤ min+25%,
  * top ≥ max−25%) unless a position is already set, and orphaned
  * stations (no lift within 30 m) are removed.
  *
  * Lift lines and their stations are synthesized from `orders` (3-point
  * lines at the order anchors; two stations per lift at varying
  * along-line positions, lateral offsets, and elevations — some beyond
  * 30 m to exercise orphan removal, some with explicit positions).
  *
  * Scale notes: candidate generation is the grid join (station walk
  * vs lift vertex cells, deduped per pair) — no cross join;
  * the projection refine is per candidate pair; best-of window runs on
  * (station) partitions. All float math is written with the exact op
  * order of the DuckDB oracle.
  */
object LiftStations {

  private val ThresholdM = 30.0

  /** Reusable station→lift association (step 8; the unit the scenario
    * suite `ClusterSkiAreas.integration.test.ts:3019-3532` exercises).
    *
    * stations: (sid, slon, slat, sz, explicit_pos) — sz is the
    * station's ORIGINAL elevation, explicit_pos a pre-set position or
    * null. lifts: (lift_id, coords 3D [lon,lat,z]); an optional
    * part_no column carries MultiLineString parts as separate rows —
    * the nearest part wins, matching the reference's per-part scan
    * (`LiftStationAssociator.ts:155-184`).
    *
    * Rules: candidates within thresholdM of the nearest point on the
    * lift line (grid-join prefilter: station walk vs lift vertex
    * cells); best lift = min distance, lift id then part tie-break;
    * orphans (no lift within threshold) drop out; position =
    * explicit_pos else bottom/top/mid from sz against the lift's
    * [min z, max z] range at 25 %/75 % (`:186-214`).
    * Returns (sid, lift_id, position, dist_m, snap_lon, snap_lat).
    */
  def associate(stations: DataFrame, lifts: DataFrame,
      thresholdM: Double, cellDeg: Double): DataFrame = {
    val lf = if (lifts.columns.contains("part_no")) lifts
      else lifts.withColumn("part_no", lit(0))
    val lvert = lf.select(col("lift_id"), col("part_no"), col("coords"),
      explode(col("coords")).as("v"))
    val cand = GridJoin(stations, lvert, (col("slon"), col("slat")),
        (element_at(col("v"), 1), element_at(col("v"), 2)), cellDeg,
        GridJoin.Within(thresholdM, refine = false),
        distinctRight = Seq("lift_id", "part_no"))
      .dropDuplicates("sid", "lift_id", "part_no")
    val np = GeoFunctions.nearestPointOnLine(
      col("slon"), col("slat"), col("coords"))
    val zs = transform(col("coords"), p => element_at(p, 3))
    val byStation = Window.partitionBy("sid")
      .orderBy(col("dist_m"), col("lift_id"), col("part_no"))
    cand
      .withColumn("np", np)
      .withColumn("dist_m", col("np.dist_m"))
      .withColumn("snap_lon", col("np.lon"))
      .withColumn("snap_lat", col("np.lat"))
      .filter(col("dist_m") <= thresholdM)
      .withColumn("rn", row_number().over(byStation))
      .filter(col("rn") === 1)
      .withColumn("zmin", array_min(zs))
      .withColumn("zmax", array_max(zs))
      .select(col("sid"), col("lift_id"),
        coalesce(col("explicit_pos"),
          when(col("sz") <= col("zmin")
            + (col("zmax") - col("zmin")) * 0.25, "bottom")
            .when(col("sz") >= col("zmax")
              - (col("zmax") - col("zmin")) * 0.25, "top")
            .otherwise("mid")).as("position"),
        (floor((col("dist_m")) * 1e2 + 0.5) / 1e2).as("dist_m"),
        (floor((col("snap_lon")) * 1e6 + 0.5) / 1e6).as("snap_lon"),
        (floor((col("snap_lat")) * 1e6 + 0.5) / 1e6).as("snap_lat"))
  }

  /** Lift-side view of [[associate]]'s output: each lift's stations
    * array (`lift.properties.stations`, scenario "populates
    * lift.stations array with associated stations",
    * `ClusterSkiAreas.integration.test.ts:3380`), ordered
    * bottom → mid → top then by station id for determinism.
    */
  def stationsPerLift(assoc: DataFrame): DataFrame = {
    val ord = when(col("position") === "bottom", 0)
      .when(col("position") === "mid", 1).otherwise(2)
    assoc
      .select(col("lift_id"),
        struct(ord.as("ord"), col("sid"), col("position")).as("s"))
      .groupBy("lift_id")
      .agg(transform(sort_array(collect_list(col("s"))),
        s => struct(s("sid"), s("position"))).as("stations"))
  }

  private val qStations = QuerySpec.of(
    "q_ski_lift_stations", {
      val hav = GeoFunctions.sqlHaversineM("slon", "slat", "snap_lon", "snap_lat")
      s"""WITH lifts AS (
        |  SELECT o_orderkey AS lift_id,
        |    ${SkiFeatures.sql.anchorLon("o_orderkey")} AS alon,
        |    ${SkiFeatures.sql.anchorLat("o_orderkey")} AS alat,
        |    ${SkiFeatures.sql.liftLine("o_orderkey", "o_custkey")},
        |    o_custkey AS ck
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |stations AS (
        |  SELECT lift_id * 10 + sn AS sid,
        |    CASE WHEN sn = 1 THEN CAST(ck % 5 AS DOUBLE) / 4.0
        |         ELSE CAST(CAST(floor(ck / 7) AS BIGINT) % 5 AS DOUBLE) / 4.0
        |    END AS frac,
        |    CASE WHEN sn = 1 THEN ck % 4
        |         ELSE CAST(floor(ck / 11) AS BIGINT) % 4 END AS offm,
        |    CASE WHEN sn = 1 AND ck % 7 = 0 THEN 'top' END AS explicit_pos,
        |    alon, alat, ldx, ldy, z0, rise
        |  FROM lifts, unnest([1, 2]) AS u(sn)),
        |st AS (
        |  SELECT sid, explicit_pos,
        |    alon + 2.0 * ldx * frac AS slon,
        |    alat + ldy * least(2.0 * frac, CAST(1 AS DOUBLE))
        |      + (CAST(offm AS DOUBLE) - 1.5) * 0.00022 AS slat,
        |    z0 + 2.0 * rise * frac AS sz
        |  FROM stations),
        |scell AS (
        |  SELECT sid, explicit_pos, slon, slat, sz,
        |    CAST(floor(slon / $CellDeg) AS BIGINT) AS cx,
        |    CAST(floor(slat / $CellDeg) AS BIGINT) AS cy
        |  FROM st),
        |lvert AS (
        |  ${GridJoin.sqlWalk("DISTINCT lift_id", "(alon + CAST(v AS DOUBLE) * ldx)",
              "(alat + CAST(least(v, 1) AS DOUBLE) * ldy)",
              "lifts, unnest([0, 1, 2]) AS uv(v)", CellDeg,
              GridJoin.Within(ThresholdM))}),
        |cand AS (
        |  SELECT DISTINCT s.sid, l.lift_id
        |  FROM scell s JOIN lvert l ON s.cx = l.cx AND s.cy = l.cy),
        |seg AS (
        |  SELECT c.sid, c.lift_id, sg.k, s.slon, s.slat, s.sz, s.explicit_pos,
        |    lf.z0, lf.rise,
        |    CASE WHEN sg.k = 1 THEN lf.alon ELSE lf.alon + lf.ldx END AS x1,
        |    CASE WHEN sg.k = 1 THEN lf.alat ELSE lf.alat + lf.ldy END AS y1,
        |    CASE WHEN sg.k = 1 THEN lf.alon + lf.ldx
        |         ELSE lf.alon + 2 * lf.ldx END AS x2,
        |    CASE WHEN sg.k = 1 THEN lf.alat + lf.ldy
        |         ELSE lf.alat + lf.ldy END AS y2
        |  FROM cand c
        |  JOIN scell s ON c.sid = s.sid
        |  JOIN lifts lf ON c.lift_id = lf.lift_id,
        |  unnest([1, 2]) AS sg(k)),
        |proj0 AS (
        |  SELECT *, cos(radians(slat)) AS kx FROM seg),
        |${GeoFunctions.sqlSnapCtes("proj0", "slon", "slat")},
        |proj5 AS (
        |  SELECT *, ($hav) AS dist_m FROM proj4),
        |bestseg AS (
        |  SELECT * FROM proj5
        |  QUALIFY row_number() OVER (
        |    PARTITION BY sid, lift_id ORDER BY dist_m, k) = 1),
        |best AS (
        |  SELECT * FROM bestseg
        |  WHERE dist_m <= $ThresholdM
        |  QUALIFY row_number() OVER (
        |    PARTITION BY sid ORDER BY dist_m, lift_id) = 1)
        |SELECT sid, lift_id,
        |  coalesce(explicit_pos,
        |    CASE WHEN sz <= z0 + (z0 + 2.0 * rise - z0) * 0.25 THEN 'bottom'
        |         WHEN sz >= z0 + 2.0 * rise - (z0 + 2.0 * rise - z0) * 0.25
        |           THEN 'top'
        |         ELSE 'mid' END) AS position,
        |  (floor((dist_m) * 1e2 + 0.5) / 1e2) AS dist_m,
        |  (floor((snap_lon) * 1e6 + 0.5) / 1e6) AS snap_lon, (floor((snap_lat) * 1e6 + 0.5) / 1e6) AS snap_lat
        |FROM best ORDER BY sid""".stripMargin
    }) { (s, d) =>
    // the station fixture's own lift selection (every 3rd order, not
    // SkiFeatures.isLift); only the line comes from SkiFeatures
    val k = col("o_orderkey")
    val lifts = graft.Tables.orders(s, d).filter(pmod(k, lit(3)) === 0)
      .select(Seq(k.as("lift_id"), SkiFeatures.anchorLon(k).as("alon"),
        SkiFeatures.anchorLat(k).as("alat"))
        ++ SkiFeatures.liftLine(k, col("o_custkey"))
        :+ col("o_custkey").as("ck"): _*)
      .withColumn("coords", array(
        array(col("alon"), col("alat"), col("z0")),
        array(col("alon") + col("ldx"), col("alat") + col("ldy"),
          col("z0") + col("rise")),
        array(col("alon") + col("ldx") * 2, col("alat") + col("ldy"),
          col("z0") + col("rise") * 2)))
      .localCheckpoint()
    val stations = lifts
      .select(col("lift_id"), col("alon"), col("alat"), col("ldx"),
        col("ldy"), col("z0"), col("rise"), col("ck"),
        explode(sequence(lit(1), lit(2))).as("sn"))
      .withColumn("sid", col("lift_id") * 10 + col("sn"))
      .withColumn("frac",
        when(col("sn") === 1, pmod(col("ck"), lit(5)).cast("double") / 4.0)
          .otherwise(pmod(floor(col("ck") / 7).cast("long"), lit(5))
            .cast("double") / 4.0))
      .withColumn("offm",
        when(col("sn") === 1, pmod(col("ck"), lit(4)))
          .otherwise(pmod(floor(col("ck") / 11).cast("long"), lit(4))))
      .withColumn("explicit_pos",
        when(col("sn") === 1 && pmod(col("ck"), lit(7)) === 0, "top"))
      .withColumn("slon", col("alon") + lit(2.0) * col("ldx") * col("frac"))
      .withColumn("slat",
        col("alat") + col("ldy") * least(lit(2.0) * col("frac"), lit(1.0))
          + (col("offm").cast("double") - 1.5) * 0.00022)
      .withColumn("sz", col("z0") + lit(2.0) * col("rise") * col("frac"))
      .select("sid", "explicit_pos", "slon", "slat", "sz")
      .localCheckpoint()
    // the lift z-range the position inference reads is min/max over
    // the 3D line ([z0, z0+rise, z0+2·rise] here), so the reusable
    // associate() reproduces the oracle's z0 / z0+2·rise bounds bit
    // for bit
    associate(stations, lifts.select(col("lift_id"), col("coords")),
      ThresholdM, CellDeg)
      .orderBy("sid")
  }

  val specs: Seq[QuerySpec] = Seq(qStations)
}
