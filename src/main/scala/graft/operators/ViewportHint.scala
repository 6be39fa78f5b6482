package graft.operators

import graft.QuerySpec
import graft.functions.GeoFunctions
import org.apache.spark.sql.functions._

/** G7 viewportHint queries: the z-gradient dominant-bearing semantics
  * over 3D formatted runs, and the 2D graceful degradation (bearing
  * null) recomputed AFTER the N1-N3 normalization geometry mutations —
  * the reference recomputes the hint whenever geometry changes
  * (`/root/reference/src/transforms/normalization/MergeOverlappingRuns.ts:77-81`,
  * `Elevation.ts:136-144`). See [[GeoFunctions.viewportHint]] for the
  * contract.
  */
object ViewportHint {

  private val Sample = 17

  // ---- 3D: bearing from the descent-weighted gradient ---------------------
  private val qHint3d = QuerySpec.of(
    "q_ski_viewport_hint", {
      val m = GeoFunctions.ViewportMPerDegLat
      s"""WITH ${SkiQueries.oraclePrelude},
        |pts AS (
        |  SELECT way_id,
        |    lon0 AS x0, lat0 AS y0, z0,
        |    lon0 + dx AS x1, lat0 + dy AS y1, z0 + l_quantity AS z1,
        |    lon0 + dx * 2 AS x2, lat0 + dy AS y2, z0 + l_quantity * 2 AS z2
        |  FROM kept WHERE way_id % $Sample = 0),
        |c AS (
        |  SELECT *, (least(x0, x1, x2) + greatest(x0, x1, x2)) / 2 AS clon,
        |    (least(y0, y1, y2) + greatest(y0, y1, y2)) / 2 AS clat
        |  FROM pts),
        |mconv AS (SELECT *, $m * cos(radians(clat)) AS mlon FROM c),
        |grad AS (
        |  SELECT *,
        |    (0.0 + (((z0 - z1) * (x1 - x0)) * mlon))
        |      + (((z1 - z2) * (x2 - x1)) * mlon) AS vx,
        |    (0.0 + (((z0 - z1) * (y1 - y0)) * $m))
        |      + (((z1 - z2) * (y2 - y1)) * $m) AS vy
        |  FROM mconv),
        |br AS (
        |  SELECT *, CASE WHEN abs(vx) > 1e-9 OR abs(vy) > 1e-9
        |    THEN fmod(degrees(atan2(vx, vy)) + 360.0, 360.0) END AS bearing
        |  FROM grad),
        |rot AS (
        |  SELECT way_id, bearing, clon, clat,
        |    radians(coalesce(bearing, 0.0)) AS b,
        |    (x0 - clon) * mlon AS lx0, (y0 - clat) * $m AS ly0,
        |    (x1 - clon) * mlon AS lx1, (y1 - clat) * $m AS ly1,
        |    (x2 - clon) * mlon AS lx2, (y2 - clat) * $m AS ly2
        |  FROM br),
        |r2 AS (
        |  SELECT way_id, bearing, clon, clat,
        |    lx0 * cos(b) - ly0 * sin(b) AS xr0,
        |    lx1 * cos(b) - ly1 * sin(b) AS xr1,
        |    lx2 * cos(b) - ly2 * sin(b) AS xr2,
        |    lx0 * sin(b) + ly0 * cos(b) AS yr0,
        |    lx1 * sin(b) + ly1 * cos(b) AS yr1,
        |    lx2 * sin(b) + ly2 * cos(b) AS yr2
        |  FROM rot)
        |SELECT way_id, (floor((bearing) * 1e4 + 0.5) / 1e4) AS bearing,
        |  (floor((clon) * 1e9 + 0.5) / 1e9) AS center_lon, (floor((clat) * 1e9 + 0.5) / 1e9) AS center_lat,
        |  (floor((least(yr0, yr1, yr2)) * 1e4 + 0.5) / 1e4) AS min_camera_y,
        |  (floor((greatest(yr0, yr1, yr2) - least(yr0, yr1, yr2)) * 1e4 + 0.5) / 1e4)
        |    AS rotated_height_m,
        |  (floor((greatest(xr0, xr1, xr2) - least(xr0, xr1, xr2)) * 1e4 + 0.5) / 1e4)
        |    AS rotated_width_m
        |FROM r2 ORDER BY way_id""".stripMargin
    }) { (s, d) =>
    SkiQueries.formatted(s, d).filter(col("kept"))
      .filter(pmod(col("way_id"), lit(Sample)) === 0)
      .withColumn("h", GeoFunctions.viewportHint(col("coords")))
      .select(col("way_id"),
        (floor((col("h.bearing")) * 1e4 + 0.5) / 1e4).as("bearing"),
        (floor((col("h.center_lon")) * 1e9 + 0.5) / 1e9).as("center_lon"),
        (floor((col("h.center_lat")) * 1e9 + 0.5) / 1e9).as("center_lat"),
        (floor((col("h.min_camera_y")) * 1e4 + 0.5) / 1e4).as("min_camera_y"),
        (floor((col("h.rotated_height_m")) * 1e4 + 0.5) / 1e4).as("rotated_height_m"),
        (floor((col("h.rotated_width_m")) * 1e4 + 0.5) / 1e4).as("rotated_width_m"))
      .orderBy("way_id")
  }

  // ---- 2D degradation, recomputed after N1-N3 -----------------------------
  // Same dup'd input as q_ski_normalize; the hint runs over the
  // NORMALIZED geometry (quantized, z dropped), so every bearing is
  // null and extents derive from the quantized grid — exactly what a
  // client sees between normalization and elevation enrichment.
  private val qHintNorm = QuerySpec.of(
    "q_ski_viewport_norm", {
      val m = GeoFunctions.ViewportMPerDegLat
      val D = Normalization.sqlUnquantized _
      s"""WITH ${SkiQueries.oraclePrelude},
        |dup AS (SELECT DISTINCT ${SkiQueries.keptGridSql} FROM kept),
        |pts AS (
        |  SELECT ${D("x0")} AS ax0, ${D("y0")} AS ay0,
        |    ${D("x1")} AS ax1, ${D("y1")} AS ay1,
        |    ${D("x2")} AS ax2, ${D("y1")} AS ay2
        |  FROM dup),
        |c AS (
        |  SELECT *,
        |    (least(ax0, ax1, ax2) + greatest(ax0, ax1, ax2)) / 2 AS clon,
        |    (least(ay0, ay1, ay2) + greatest(ay0, ay1, ay2)) / 2 AS clat
        |  FROM pts),
        |mm AS (SELECT *, $m * cos(radians(clat)) AS mlon FROM c)
        |SELECT CAST(NULL AS DOUBLE) AS bearing,
        |  (floor((clon) * 1e9 + 0.5) / 1e9) AS center_lon, (floor((clat) * 1e9 + 0.5) / 1e9) AS center_lat,
        |  (floor(((least(ay0, ay1, ay2) - clat) * $m) * 1e4 + 0.5) / 1e4) AS min_camera_y,
        |  (floor(((greatest(ay0, ay1, ay2) - least(ay0, ay1, ay2)) * $m) * 1e4 + 0.5) / 1e4)
        |    AS rotated_height_m,
        |  (floor(((greatest(ax0, ax1, ax2) - least(ax0, ax1, ax2)) * mlon) * 1e4 + 0.5) / 1e4)
        |    AS rotated_width_m
        |FROM mm
        |ORDER BY center_lon, center_lat, rotated_width_m,
        |  rotated_height_m, min_camera_y""".stripMargin
    }) { (s, d) =>
    Normalization.normalizeRuns(SkiQueries.normalizeInput(s, d))
      .withColumn("h", GeoFunctions.viewportHint(col("coords")))
      .select(col("h.bearing").as("bearing"),
        (floor((col("h.center_lon")) * 1e9 + 0.5) / 1e9).as("center_lon"),
        (floor((col("h.center_lat")) * 1e9 + 0.5) / 1e9).as("center_lat"),
        (floor((col("h.min_camera_y")) * 1e4 + 0.5) / 1e4).as("min_camera_y"),
        (floor((col("h.rotated_height_m")) * 1e4 + 0.5) / 1e4).as("rotated_height_m"),
        (floor((col("h.rotated_width_m")) * 1e4 + 0.5) / 1e4).as("rotated_width_m"))
      .orderBy("center_lon", "center_lat", "rotated_width_m",
        "rotated_height_m", "min_camera_y")
  }

  val specs: Seq[QuerySpec] = Seq(qHint3d, qHintNorm)
}
