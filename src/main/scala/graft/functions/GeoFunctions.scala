package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Geometry math as Catalyst column expressions (no UDFs): haversine
  * distances, geodesic line length, centroid, grid-cell spatial keys,
  * VIIRS sinusoidal projection.
  *
  * Geometries are modeled as `array<array<double>>` — a list of
  * [lon, lat] (optionally [lon, lat, z]) positions, the canonical
  * internal form chosen in SURVEY §1.2. All math is double precision
  * with fixed operation order so the DuckDB oracles (same formulas,
  * same order) agree bit-for-bit.
  *
  * Reference semantics: turf geodesic length (SURVEY G1,
  * `/root/reference/src/clustering/SkiAreaClusteringService.ts:66-71`),
  * vertex-average centroid (G2, `SpotFormatter.ts:33`), VIIRS
  * sinusoidal grid (E5, `/root/reference/src/utils/VIIRSPixelExtractor.ts:29-338`),
  * 500 m grid-cell distance join (J1, SURVEY §2.6).
  */
object GeoFunctions {

  /** Mean Earth radius in meters (turf.js uses 6371008.8). */
  val EarthRadiusM = 6371008.8

  /** VIIRS sinusoidal sphere radius (MODIS/VIIRS grid constant). */
  val ViirsRadiusM = 6371007.181

  /** Haversine distance in meters between [lon1,lat1] and [lon2,lat2]. */
  def haversineM(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2.0 * EarthRadiusM) * asin(sqrt(a))
  }

  /** `graft_st_dwithin` as a DataFrame column: within-`radiusM`-meters
    * predicate over two points, backed by the native codegen
    * [[STDWithinExpr]]. Stated in a join condition, the registered
    * [[graft.plans.DistanceJoinRule]] plans it as a grid-cell
    * equi-join instead of a cartesian product.
    */
  def stDWithin(lon1: Column, lat1: Column, lon2: Column, lat2: Column,
      radiusM: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge._
    column(STDWithinExpr(expression(lon1.cast("double")),
      expression(lat1.cast("double")), expression(lon2.cast("double")),
      expression(lat2.cast("double")), expression(radiusM.cast("double"))))
  }

  /** DuckDB twin of [[haversineM]] (same op order). */
  def sqlHaversineM(lon1: String, lat1: String, lon2: String, lat2: String): String =
    s"(2.0 * $EarthRadiusM) * asin(sqrt(" +
      s"pow(sin(radians($lat2 - $lat1) / 2), 2) + " +
      s"cos(radians($lat1)) * cos(radians($lat2)) * " +
      s"pow(sin(radians($lon2 - $lon1) / 2), 2)))"

  /** Geodesic length in meters of a coords array (sum of haversine
    * segment lengths, left-to-right). A native codegen kernel call
    * ([[GeoKernels.lineLengthM]]) — the declarative
    * `aggregate`-over-`sequence` form is an interpreted higher-order
    * function and this sits in the hottest scalar path of the run
    * queries. Bit-identical results (see the kernel's contract). The
    * kernel reads positions 0/1 directly, so a z ordinate needs no
    * projection.
    */
  def lineLengthM(coords: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    column(StaticInvoke(GeoKernels.getClass, DoubleType, "lineLengthM",
      Seq(expression(coords)), Seq(ArrayType(ArrayType(DoubleType))),
      returnNullable = false))
  }

  /** Vertex-average centroid as struct(lon, lat) — turf `centroid`
    * semantics (average of all vertices, not area-weighted).
    */
  def centroid(coords: Column): Column = struct(
    (aggregate(coords, lit(0.0), (acc, p) => acc + element_at(p, 1))
      / size(coords)).as("lon"),
    (aggregate(coords, lit(0.0), (acc, p) => acc + element_at(p, 2))
      / size(coords)).as("lat"))

  /** Grid-cell key for the distance-join prefilter: floor(deg / cell).
    * cellDeg must be >= the join radius in degrees at the highest
    * latitude of interest so a 3×3 neighborhood covers the radius.
    */
  def gridCell(lon: Column, lat: Column, cellDeg: Double): Column =
    struct(floor(lon / cellDeg).cast("long").as("cx"),
      floor(lat / cellDeg).cast("long").as("cy"))

  /** VIIRS sinusoidal 375 m pixel: struct(h, v, px, py).
    * Projection: x = R·λ·cos(φ), y = R·φ on the VIIRS sphere; tiles are
    * 10°×10° (1200 km), 3000 pixels per tile side.
    */
  def viirsPixel(lon: Column, lat: Column): Column = {
    val T = lit(ViirsTileSizeM)
    val x = lit(ViirsRadiusM) * radians(lon) * cos(radians(lat))
    val y = lit(ViirsRadiusM) * radians(lat)
    val gx = x + lit(18.0) * T   // offset from west edge of tile (0,·)
    val gy = lit(9.0) * T - y    // offset from north edge of tile (·,0)
    struct(
      floor(gx / T).cast("int").as("h"),
      floor(gy / T).cast("int").as("v"),
      floor((gx - floor(gx / T) * T) / (T / 3000.0)).cast("int").as("px"),
      floor((gy - floor(gy / T) * T) / (T / 3000.0)).cast("int").as("py"))
  }

  /** 10° tile width in sinusoidal meters: 2πR/36. */
  val ViirsTileSizeM: Double = 2.0 * math.Pi * ViirsRadiusM / 36.0

  /** DuckDB twin of [[viirsPixel]] producing the same 4 fields from
    * `lon`/`lat` SQL expressions; yields a SQL struct literal.
    */
  def sqlViirsPixel(lon: String, lat: String): String = {
    // CAST keeps DuckDB from binding the literal as DECIMAL (which
    // overflows in DECIMAL×DECIMAL products like 18.0 * T).
    val T = s"CAST($ViirsTileSizeM AS DOUBLE)"
    val x = s"($ViirsRadiusM * radians($lon) * cos(radians($lat)))"
    val y = s"($ViirsRadiusM * radians($lat))"
    val gx = s"($x + 18.0 * $T)"
    val gy = s"(9.0 * $T - $y)"
    s"{'h': CAST(floor($gx / $T) AS INT), 'v': CAST(floor($gy / $T) AS INT), " +
      s"'px': CAST(floor(($gx - floor($gx / $T) * $T) / ($T / 3000.0)) AS INT), " +
      s"'py': CAST(floor(($gy - floor($gy / $T) * $T) / ($T / 3000.0)) AS INT)}"
  }

  /** Number of elevation-profile sample points for a line of length L
    * at resolution r: the samples sit every r meters plus the endpoint
    * (G5/E2 semantics: start/end always included).
    */
  def profilePointCount(lengthM: Column, resolutionM: Double): Column =
    greatest(lit(2L), (floor(lengthM / resolutionM) + 2).cast("long"))

  /** E2: elevation-profile HEIGHTS — z sampled every `res` meters of
    * along-line distance (linear interpolation within each segment)
    * plus the endpoint (`/root/reference/src/transforms/Elevation.ts:108-144`).
    * General segment walk as a fold; coords are 3D [lon, lat, z].
    */
  def profileHeights(coords: Column, res: Double): Column = {
    val l = lineLengthM(coords)
    val lastZ = element_at(element_at(coords, -1), 3)
    val samples = transform(
      sequence(lit(0L), floor(l / res).cast("long")),
      k => {
        val t = k.cast("double") * res
        val acc = aggregate(
          sequence(lit(1), size(coords) - 1),
          struct(lit(0.0).as("d"), lit(null).cast("double").as("z")),
          (a, i) => {
            val p = element_at(coords, i)
            val q = element_at(coords, i + 1)
            val segLen = haversineM(element_at(p, 1), element_at(p, 2),
              element_at(q, 1), element_at(q, 2))
            val za = element_at(p, 3)
            val zb = element_at(q, 3)
            when(a.getField("z").isNull && segLen > 0
                && t <= a.getField("d") + segLen,
              struct((a.getField("d") + segLen).as("d"),
                (za + (zb - za) * (t - a.getField("d")) / segLen).as("z")))
              .otherwise(struct((a.getField("d") + segLen).as("d"),
                a.getField("z").as("z")))
          })
        coalesce(acc.getField("z"), lastZ)
      })
    concat(samples, array(lastZ))
  }

  val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Geohash-6 cell key (E3 geocode cache keying,
    * `/root/reference/src/transforms/Geocoder.ts:58,140`): 30 bits —
    * 15 lon + 15 lat interleaved lon-first — base32-encoded. Pure
    * integer/bit column expressions; the oracle computes the identical
    * interleave (`sql` CTE fragments below).
    */
  def geohash6(lon: Column, lat: Column): Column = {
    val lonN = least(greatest(
      floor((lon + 180.0) / 360.0 * 32768.0).cast("long"), lit(0L)),
      lit(32767L))
    val latN = least(greatest(
      floor((lat + 90.0) / 180.0 * 32768.0).cast("long"), lit(0L)),
      lit(32767L))
    val iv = (0 until 15).map { k =>
      shiftleft(shiftright(lonN, k).bitwiseAND(lit(1L)), 2 * k + 1) +
        shiftleft(shiftright(latN, k).bitwiseAND(lit(1L)), 2 * k)
    }.reduce(_ + _)
    concat((0 until 6).map { c =>
      val digit = shiftright(iv, 25 - 5 * c).bitwiseAND(lit(31L))
      lit(GeohashAlphabet).substr((digit + 1).cast("int"), lit(1))
    }: _*)
  }

  /** DuckDB twin of [[geohash6]]: (lonN expr, latN expr, iv expr from
    * lonN/latN columns, geohash expr from an iv column).
    */
  def sqlGeohash6(lon: String, lat: String): (String, String, String, String) = {
    val lonN =
      s"least(greatest(CAST(floor(($lon + 180.0) / 360.0 * 32768.0) AS BIGINT), 0), 32767)"
    val latN =
      s"least(greatest(CAST(floor(($lat + 90.0) / 180.0 * 32768.0) AS BIGINT), 0), 32767)"
    val iv = (0 until 15).map { k =>
      s"(((lonN >> $k) & 1) << ${2 * k + 1}) + (((latN >> $k) & 1) << ${2 * k})"
    }.mkString(" + ")
    val gh = (0 until 6).map { c =>
      s"substr('$GeohashAlphabet', CAST(((iv >> ${25 - 5 * c}) & 31) + 1 AS INT), 1)"
    }.mkString(" || ")
    (lonN, latN, iv, gh)
  }

  /** Nearest point on a polyline (G3, the columnar analog of turf
    * nearest-point-on-line used by the lift-station associator,
    * `/root/reference/src/clustering/LiftStationAssociator.ts:155-186`):
    * per segment, project the point in a local equirectangular frame
    * (lon scaled by cos(lat)), clamp to the segment, take the snapped
    * point of the closest segment (earlier segment wins ties).
    * Returns struct(dist_m, lon, lat, t).
    */
  def nearestPointOnLine(plon: Column, plat: Column, coords: Column): Column = {
    val kx = cos(radians(plat))
    aggregate(
      sequence(lit(1), size(coords) - 1),
      struct(lit(Double.MaxValue).as("dist_m"), lit(0.0).as("lon"),
        lit(0.0).as("lat"), lit(0.0).as("t")),
      (best, i) => {
        val a = element_at(coords, i)
        val b = element_at(coords, i + 1)
        val ax = (element_at(a, 1) - plon) * kx
        val ay = element_at(a, 2) - plat
        val bx = (element_at(b, 1) - plon) * kx
        val by = element_at(b, 2) - plat
        val dx = bx - ax
        val dy = by - ay
        val tRaw = -(ax * dx + ay * dy) / (dx * dx + dy * dy)
        val t = least(greatest(tRaw, lit(0.0)), lit(1.0))
        val slon = plon + (ax + dx * t) / kx
        val slat = plat + (ay + dy * t)
        val dist = haversineM(plon, plat, slon, slat)
        val cand = struct(dist.as("dist_m"), slon.as("lon"),
          slat.as("lat"), t.as("t"))
        when(cand.getField("dist_m") < best.getField("dist_m"), cand)
          .otherwise(best)
      })
  }

  /** DuckDB twin of [[nearestPointOnLine]]'s per-segment projection, in
    * its operation order: the CTEs proj1..proj4 over `src`, one row per
    * segment (x1, y1)-(x2, y2) with the point (`lon`, `lat`) and `kx` =
    * cos(radians(lat)). They add the local-frame ax, ay, bx, "by", ddx,
    * ddy, the clamped `t`, and `snap_lon` / `snap_lat`.
    */
  def sqlSnapCtes(src: String, lon: String, lat: String): String =
    s"""proj1 AS (
       |  SELECT *, (x1 - $lon) * kx AS ax, y1 - $lat AS ay,
       |    (x2 - $lon) * kx AS bx, y2 - $lat AS "by" FROM $src),
       |proj2 AS (SELECT *, bx - ax AS ddx, "by" - ay AS ddy FROM proj1),
       |proj3 AS (
       |  SELECT *, least(greatest(
       |    (-(ax * ddx + ay * ddy)) / (ddx * ddx + ddy * ddy),
       |    CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) AS t FROM proj2),
       |proj4 AS (
       |  SELECT *, $lon + (ax + ddx * t) / kx AS snap_lon,
       |    $lat + (ay + ddy * t) AS snap_lat FROM proj3)""".stripMargin

  /** Even-odd ray-cast point-in-polygon (J2 refine; the columnar
    * analog of the reference's ST_CoveredBy refine,
    * `/root/reference/src/clustering/database/PostgreSQLClusteringDatabase.ts:680-711`).
    * `ring` is an OPEN ring (first vertex not repeated) as
    * array<array<double>>. Handles any simple polygon; for convex rings
    * "line covered by polygon" reduces to all-vertices-inside.
    * The crossing test `px < (x2-x1)*(py-y1)/(y2-y1)+x1` is written
    * with the exact op order the oracle uses, so boundary decisions are
    * bit-identical.
    */
  def pointInPolygon(px: Column, py: Column, ring: Column): Column =
    // native per-edge kernel (GeoContainKernels.inRing) — bit-identical
    // to the former aggregate(sequence(...)) fold (same crossing op order,
    // same null-edge skip algebra), but one fused loop inside
    // whole-stage codegen instead of an interpreted HOF rebuilding
    // the edge arithmetic per (point, edge)
    PointInRingsExpr.pointInPolygon(px.cast("double"), py.cast("double"),
      ring)

  /** Even-odd containment across a full ring set — all outer rings and
    * all interior (hole) rings of a (Multi)Polygon, as
    * `array<array<array<double>>>`. A point is inside iff its total
    * edge-crossing parity across ALL rings is odd: crossing into a
    * hole flips the point out, a second disjoint part flips it back
    * in — exactly the even-odd rule turf's booleanPointInPolygon
    * applies to polygons with holes (the reference's containment
    * refine, `/root/reference/src/clustering/database/PostgreSQLClusteringDatabase.ts:680-711`,
    * honors interior rings the same way).
    */
  def pointInRings(px: Column, py: Column, rings: Column): Column =
    // native ring-set kernel (see pointInPolygon); null rings leave
    // the parity unchanged exactly like the replaced fold
    PointInRingsExpr.pointInRings(px.cast("double"), py.cast("double"),
      rings)

  // ---- P12/J6: geometry validity + repair ---------------------------------
  // The reference validates features with turf booleanValid and drops
  // invalid ones (`/root/reference/src/transforms/GeoTransforms.ts:113-130`),
  // and the clustering ingest normalizes every geometry with
  // ST_MakeValid(ST_Force2D(...)) (`PostgreSQLClusteringDatabase.ts:50,291`).
  // Columnar equivalents: validity predicates per geometry class, the
  // close-ring repair (the 'method=structure' fix for the common
  // unclosed-ring case), and the 2D projection.

  /** Drop z (and any higher ordinate) from every position. */
  def force2D(coords: Column): Column = transform(coords, p => slice(p, 1, 2))

  /** Every position within lon ∈ [-180, 180], lat ∈ [-90, 90]. */
  def coordsInRange(coords: Column): Column =
    forall(coords, p => abs(element_at(p, 1)) <= 180.0 &&
      abs(element_at(p, 2)) <= 90.0)

  /** Ring closure: first position equals last (array equality — apply
    * after [[force2D]] so a 3D first vertex compares equal to a 2D
    * repair-appended copy).
    */
  def ringClosed(ring: Column): Column =
    element_at(ring, 1) === element_at(ring, -1)

  /** Polygon-ring validity: ≥4 positions, closed, in range. */
  def ringValid(ring: Column): Column =
    size(ring) >= 4 && ringClosed(ring) && coordsInRange(ring)

  /** LineString validity: ≥2 positions, in range. */
  def lineValid(coords: Column): Column =
    size(coords) >= 2 && coordsInRange(coords)

  /** Close-ring repair: append the first position when unclosed. A
    * repaired ring is valid iff it then has ≥4 positions and is in
    * range — too-short or out-of-range rings stay invalid (the
    * reference drops those).
    */
  def closeRing(ring: Column): Column =
    when(ringClosed(ring), ring)
      .otherwise(array_append(ring, element_at(ring, 1)))

  // ---- G7: viewportHint ----------------------------------------------------
  /** Meters per degree of latitude in the viewportHint local frame —
    * pinned by the reference's snapshot fixtures (a 1°-tall feature has
    * rotatedHeightMeters 111320 and rotatedWidthMeters
    * 111320·cos(center lat), `RunFormatter.unit.test.ts:67-73`).
    */
  val ViewportMPerDegLat = 111320.0

  /** viewportHint (G7; `openskidata-format` computeViewportHint, called
    * at `/root/reference/src/transforms/RunFormatter.ts:79`, recomputed
    * after normalization geometry mutations
    * (`normalization/MergeOverlappingRuns.ts:77-81`) and after 3D
    * elevation enrichment (`Elevation.ts:136-144`)).
    *
    * Contract (from the reference's snapshot shape): center = bbox
    * center [lon, lat]; bearing = compass direction of the dominant
    * DOWNHILL z-gradient — the descent-weighted sum of segment
    * direction vectors in local meters — and null when the geometry is
    * 2D or flat ("graceful degradation ... the client falls back to a
    * top-down view", `Elevation.ts:136-139`); rotated extents = bbox of
    * the vertices in the frame rotated so the bearing points up
    * (y' = x·sin b + y·cos b, x' = x·cos b − y·sin b), minCameraY =
    * the smallest rotated y. With bearing null the frame is unrotated,
    * reproducing the fixture's plain-bbox numbers exactly.
    */
  def viewportHint(coords: Column): Column = {
    val lons = transform(coords, p => element_at(p, 1))
    val lats = transform(coords, p => element_at(p, 2))
    val minLon = array_min(lons); val maxLon = array_max(lons)
    val minLat = array_min(lats); val maxLat = array_max(lats)
    val clon = (minLon + maxLon) / 2
    val clat = (minLat + maxLat) / 2
    val mLon = lit(ViewportMPerDegLat) * cos(radians(clat))
    val has3d = forall(coords, p => size(p) >= 3)
    // size-1 guard: `sequence(1, size-1)` on a single-point geometry
    // is sequence(1, 0) = [1, 0] (Spark sequences run DOWN when start
    // > stop), and element_at(coords, 0) then throws. A single point
    // has no gradient — empty index list, zero vector, null bearing.
    val segIdx = when(size(coords) >= 2, sequence(lit(1), size(coords) - 1))
      .otherwise(array().cast("array<int>"))
    val grad = aggregate(
      segIdx,
      struct(lit(0.0).as("vx"), lit(0.0).as("vy")),
      (acc, i) => {
        val p = element_at(coords, i)
        val q = element_at(coords, i + 1)
        // 0-based get: null (not an error) on 2D points, so the 3D
        // guard below degrades the bearing instead of throwing
        val w = get(p, lit(2)) - get(q, lit(2)) // descent weight
        struct(
          (acc.getField("vx")
            + w * (element_at(q, 1) - element_at(p, 1)) * mLon).as("vx"),
          (acc.getField("vy")
            + w * (element_at(q, 2) - element_at(p, 2))
              * ViewportMPerDegLat).as("vy"))
      })
    val vx = grad.getField("vx"); val vy = grad.getField("vy")
    val bearing = when(has3d && (abs(vx) > 1e-9 || abs(vy) > 1e-9),
      pmod(degrees(atan2(vx, vy)) + 360.0, lit(360.0)))
    val b = radians(coalesce(bearing, lit(0.0)))
    val xs = transform(coords, p => (element_at(p, 1) - clon) * mLon)
    val ys = transform(coords,
      p => (element_at(p, 2) - clat) * ViewportMPerDegLat)
    val xr = zip_with(xs, ys, (x, y) => x * cos(b) - y * sin(b))
    val yr = zip_with(xs, ys, (x, y) => x * sin(b) + y * cos(b))
    struct(
      bearing.as("bearing"),
      clon.as("center_lon"), clat.as("center_lat"),
      array_min(yr).as("min_camera_y"),
      (array_max(yr) - array_min(yr)).as("rotated_height_m"),
      (array_max(xr) - array_min(xr)).as("rotated_width_m"))
  }
}
