package graft.operators

import graft.QuerySpec
import graft.functions.GeoFunctions
import graft.functions.GeoFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import SkiFeatures.CellDeg

/** Multi-part geometry operators: hole-aware containment over
  * MultiPolygon ski areas (J2 with interior rings — the reference's
  * ST_CoveredBy refine honors holes, and OSM landuse ski areas are
  * frequently multipolygons with clearings;
  * `/root/reference/src/clustering/database/PostgreSQLClusteringDatabase.ts:680-711`,
  * `/root/reference/src/transforms/RunFormatter.ts:83-99`).
  *
  * Fixture: each area (order anchor) is a MultiPolygon of TWO disjoint
  * rectangular parts plus an interior ring (hole) in the first part,
  * in units of 0.001°:
  *   part 0 outer  (-1,-1) (9.5,-1) (9.5,3) (-1,3)
  *   part 0 hole   (4.5,-0.5) (5.5,-0.5) (5.5,1.2) (4.5,1.2)
  *   part 1 outer  (10.5,-1) (18.5,-1) (18.5,3) (10.5,3)
  * Kept run vertices land at integer x-units (first vertex x ∈
  * {4,5,6}, spans to 16) and y ∈ {0, 0.5, 1, 1.5}, so vertices fall
  * inside part 0, inside the hole (x=5, y≤1 — excluded by parity), in
  * the gap between parts (x=10 — excluded), or inside part 1 (runs
  * spanning both parts) — every even-odd case fires with no
  * coordinate ever ON a ring edge.
  *
  * Membership is vertex-sampled: a run is a member when ≥1 vertex is
  * inside the multipolygon (J3 intersects flavor), covered when ALL
  * vertices are (J2 ST_CoveredBy flavor); runs spanning the gap are
  * members-not-covered. Scale shape identical to q_ski_polygon_assign:
  * cell-prefiltered candidate join, parity refine on candidates only.
  */
object MultiPart {

  private[operators] val U = 0.001

  /** (ring_no, vertex list in 0.001° units). */
  private val RingDefs: Seq[Seq[(Double, Double)]] = Seq(
    Seq((-1.0, -1.0), (9.5, -1.0), (9.5, 3.0), (-1.0, 3.0)),
    Seq((4.5, -0.5), (5.5, -0.5), (5.5, 1.2), (4.5, 1.2)),
    Seq((10.5, -1.0), (18.5, -1.0), (18.5, 3.0), (10.5, 3.0)))

  private val qMultiAssign = QuerySpec.of(
    "q_ski_multipolygon_assign", {
      val ringRows = RingDefs.zipWithIndex.flatMap { case (ring, rn) =>
        ring.zipWithIndex.map { case ((vx, vy), k) =>
          s"{'rn': $rn, 'k': $k, 'vx': CAST($vx AS DOUBLE), 'vy': CAST($vy AS DOUBLE)}"
        }
      }.mkString(",\n        |      ")
      val lenSqlLocal = SkiQueries.lenSql
      s"""WITH ${SkiQueries.oraclePrelude},
        |areas AS (${SkiFeatures.sql.areas()}),
        |verts AS (
        |  SELECT area_id, (p).rn AS rn, (p).k AS k,
        |    alon + (p).vx * $U AS x, alat + (p).vy * $U AS y
        |  FROM areas, unnest([
        |      $ringRows]) AS u(p)),
        |edges AS (
        |  SELECT a.area_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        |  FROM verts a JOIN verts b
        |    ON a.area_id = b.area_id AND a.rn = b.rn AND b.k = (a.k + 1) % 4),
        |acells AS (
        |  ${GridJoin.sqlWalk("area_id, alon, alat", "alon", "alat", "areas",
              CellDeg, GridJoin.Cells(1))}),
        |runs AS (
        |  SELECT DISTINCT way_id, ($lenSqlLocal) AS len_m, lon0, lat0, dx, dy,
        |    CAST(floor(lon0 / $CellDeg) AS BIGINT) AS cx,
        |    CAST(floor(lat0 / $CellDeg) AS BIGINT) AS cy
        |  FROM kept),
        |cand AS (
        |  SELECT a.area_id, r.way_id, r.len_m, r.lon0, r.lat0, r.dx, r.dy
        |  FROM acells a JOIN runs r ON a.cx = r.cx AND a.cy = r.cy),
        |pts AS (
        |  SELECT area_id, way_id, len_m, pidx,
        |    CASE pidx WHEN 0 THEN lon0 WHEN 1 THEN lon0 + dx ELSE lon0 + dx * 2 END AS px,
        |    CASE pidx WHEN 0 THEN lat0 ELSE lat0 + dy END AS py
        |  FROM cand, unnest([0, 1, 2]) AS up(pidx)),
        |inside AS (
        |  SELECT p.area_id, p.way_id, p.len_m, p.pidx
        |  FROM pts p JOIN edges e ON p.area_id = e.area_id
        |  WHERE ((e.y1 > p.py) <> (e.y2 > p.py))
        |    AND p.px < (e.x2 - e.x1) * (p.py - e.y1) / (e.y2 - e.y1) + e.x1
        |  GROUP BY 1, 2, 3, 4 HAVING count(*) % 2 = 1),
        |mem AS (
        |  SELECT area_id, way_id, any_value(len_m) AS len_m,
        |    count(*) AS n_inside
        |  FROM inside GROUP BY area_id, way_id)
        |SELECT area_id, count(*) AS n_members,
        |  CAST(sum(CASE WHEN n_inside = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_covered,
        |  (floor((sum(len_m) / 1000.0) * 1e4 + 0.5) / 1e4) AS total_km
        |FROM mem GROUP BY area_id
        |ORDER BY area_id""".stripMargin
    }) { (s, d) =>
    val rings = array(RingDefs.map(ring =>
      array(ring.map { case (vx, vy) =>
        array(col("alon") + lit(vx) * U, col("alat") + lit(vy) * U)
      }: _*)): _*)
    val areas = SkiFeatures.areas(s, d)
      .select(col("area_id"), col("lon").as("alon"), col("lat").as("alat"))
      .withColumn("rings", rings)
    val runs = SkiQueries.formatted(s, d).filter(col("kept"))
      .select(col("way_id"), lineLengthM(col("coords")).as("len_m"),
        col("coords"))
      .dropDuplicates("way_id")
    def inRings(p: Column): Column =
      GeoFunctions.pointInRings(element_at(p, 1), element_at(p, 2),
        col("rings"))
    Clustering.cellCandidates(
      areas.select(col("area_id"), col("rings"), col("alon"), col("alat")),
      runs, CellDeg, reach = 1)
      .withColumn("n_inside",
        aggregate(col("coords"), lit(0),
          (acc, p) => when(inRings(p), acc + 1).otherwise(acc)))
      .filter(col("n_inside") > 0)
      .groupBy("area_id")
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("n_inside") === 3, 1L).otherwise(0L)).as("n_covered"),
        (floor((sum("len_m") / 1000.0) * 1e4 + 0.5) / 1e4).as("total_km"))
      .orderBy("area_id")
  }

  // ---- G6 per part: MultiPolygon → MultiPoint central points -------------
  // The reference emits ONE guaranteed-inside central point PER PART of
  // a MultiPolygon (MultiPoint result,
  // `/root/reference/src/transforms/GeoTransforms.ts:16-82`). Fixture:
  // every area is a 2-part MultiPolygon — part 0 is q_ski_central_point's
  // rect (even ids) or C-shape (odd ids, centroid in the notch → snap
  // to boundary), part 1 a small convex rect — so the per-part
  // independence is visible: part 0 may snap while part 1 never does.
  private[operators] val RectXY = Seq((0, 0), (3, 0), (3, 3), (0, 3))
  private[operators] val CXY =
    Seq((0, 0), (3, 0), (3, 1), (1, 1), (1, 2), (3, 2), (3, 4), (0, 4))
  private[operators] val Rect2XY = Seq((5, 0), (7, 0), (7, 2), (5, 2))

  /** The 2-part MultiPolygon area fixture — (area_id, convex, alon,
    * alat, parts array<ring array<[lon,lat]>>); shared with the
    * GeoPackage MultiPolygon BLOB layer.
    */
  private[operators] def multiAreas(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    def ring(pts: Seq[(Int, Int)]): Column = array(pts.map { case (vx, vy) =>
      array(col("alon") + lit(vx.toDouble) * U,
        col("alat") + lit(vy.toDouble) * U)
    }: _*)
    // its own select, not one over SkiFeatures.areas: GeoPackage's union
    // pushdown would fold that select up into the parts projection
    graft.Tables.orders(s, d)
      .filter(SkiFeatures.isArea(col("o_orderkey")))
      .select(col("o_orderkey").as("area_id"),
        (pmod(col("o_orderkey"), lit(2)) === 0).as("convex"),
        SkiFeatures.anchorLon(col("o_orderkey")).as("alon"),
        SkiFeatures.anchorLat(col("o_orderkey")).as("alat"))
      .withColumn("parts",
        when(col("convex"), array(ring(RectXY), ring(Rect2XY)))
          .otherwise(array(ring(CXY), ring(Rect2XY))))
  }

  private val qCentralMulti = QuerySpec.of(
    "q_ski_central_multi", {
      val hav = GeoFunctions.sqlHaversineM("cx0", "cy0", "snap_lon", "snap_lat")
      def vertRows(shape0: Seq[(Int, Int)]): String =
        (shape0.zipWithIndex.map { case ((vx, vy), k) =>
          s"{'part': 0, 'k': $k, 'vx': CAST($vx AS DOUBLE), 'vy': CAST($vy AS DOUBLE)}"
        } ++ Rect2XY.zipWithIndex.map { case ((vx, vy), k) =>
          s"{'part': 1, 'k': $k, 'vx': CAST($vx AS DOUBLE), 'vy': CAST($vy AS DOUBLE)}"
        }).mkString(",\n        |          ")
      s"""WITH areas AS (
        |  SELECT o_orderkey AS area_id, (o_orderkey % 2 = 0) AS convex,
        |    ${SkiFeatures.sql.anchorLon("o_orderkey")} AS alon,
        |    ${SkiFeatures.sql.anchorLat("o_orderkey")} AS alat
        |  FROM orders WHERE ${SkiFeatures.sql.isArea("o_orderkey")}),
        |verts AS (
        |  SELECT area_id, (p).part AS part, (p).k AS k,
        |    alon + (p).vx * $U AS x, alat + (p).vy * $U AS y
        |  FROM areas, unnest(CASE WHEN convex
        |    THEN [${vertRows(RectXY)}]
        |    ELSE [${vertRows(CXY)}]
        |    END) AS u(p)),
        |nv AS (SELECT area_id, part, count(*) AS n
        |  FROM verts GROUP BY area_id, part),
        |cent AS (
        |  SELECT area_id, part, sum(x) / count(*) AS cx0,
        |    sum(y) / count(*) AS cy0
        |  FROM verts GROUP BY area_id, part),
        |edges AS (
        |  SELECT a.area_id, a.part, a.x AS x1, a.y AS y1,
        |    b.x AS x2, b.y AS y2, a.k
        |  FROM verts a JOIN nv ON a.area_id = nv.area_id AND a.part = nv.part
        |  JOIN verts b ON a.area_id = b.area_id AND a.part = b.part
        |    AND b.k = (a.k + 1) % nv.n),
        |inside AS (
        |  SELECT c.area_id, c.part
        |  FROM cent c JOIN edges e
        |    ON c.area_id = e.area_id AND c.part = e.part
        |  WHERE ((e.y1 > c.cy0) <> (e.y2 > c.cy0))
        |    AND c.cx0 < (e.x2 - e.x1) * (c.cy0 - e.y1) / (e.y2 - e.y1) + e.x1
        |  GROUP BY c.area_id, c.part HAVING count(*) % 2 = 1),
        |proj0 AS (
        |  SELECT e.area_id, e.part, e.k, c.cx0, c.cy0,
        |    cos(radians(c.cy0)) AS kx, e.x1, e.y1, e.x2, e.y2
        |  FROM edges e JOIN cent c
        |    ON e.area_id = c.area_id AND e.part = c.part
        |  LEFT JOIN inside i ON e.area_id = i.area_id AND e.part = i.part
        |  WHERE i.area_id IS NULL),
        |${GeoFunctions.sqlSnapCtes("proj0", "cx0", "cy0")},
        |proj5 AS (SELECT *, ($hav) AS dist_m FROM proj4),
        |snapped AS (
        |  SELECT area_id, part, snap_lon, snap_lat FROM proj5
        |  QUALIFY row_number() OVER (PARTITION BY area_id, part
        |    ORDER BY dist_m, k) = 1)
        |SELECT c.area_id, c.part AS part_no,
        |  (i.area_id IS NOT NULL) AS centroid_inside,
        |  (floor((CASE WHEN i.area_id IS NOT NULL THEN c.cx0
        |    ELSE s.snap_lon END) * 1e6 + 0.5) / 1e6) AS lon,
        |  (floor((CASE WHEN i.area_id IS NOT NULL THEN c.cy0
        |    ELSE s.snap_lat END) * 1e6 + 0.5) / 1e6) AS lat
        |FROM cent c
        |LEFT JOIN inside i ON c.area_id = i.area_id AND c.part = i.part
        |LEFT JOIN snapped s ON c.area_id = s.area_id AND c.part = s.part
        |ORDER BY c.area_id, part_no""".stripMargin
    }) { (s, d) =>
    val areas = multiAreas(s, d)
    val perPart = areas.select(col("area_id"),
      posexplode(col("parts")).as(Seq("part_no", "ring")))
    val c = GeoFunctions.centroid(col("ring"))
    val withC = perPart
      .withColumn("cx0", c.getField("lon"))
      .withColumn("cy0", c.getField("lat"))
      .withColumn("ins",
        GeoFunctions.pointInPolygon(col("cx0"), col("cy0"), col("ring")))
    val closed = concat(col("ring"), slice(col("ring"), 1, 1))
    val np = GeoFunctions.nearestPointOnLine(col("cx0"), col("cy0"), closed)
    withC
      .withColumn("np", np)
      .select(col("area_id"), col("part_no"),
        col("ins").as("centroid_inside"),
        (floor((when(col("ins"), col("cx0"))
          .otherwise(col("np.lon"))) * 1e6 + 0.5) / 1e6).as("lon"),
        (floor((when(col("ins"), col("cy0"))
          .otherwise(col("np.lat"))) * 1e6 + 0.5) / 1e6).as("lat"))
      .orderBy("area_id", "part_no")
  }

  // ---- P1 per-part explode over synthesized MultiLineStrings -------------
  // One MultiLineString per order whose parts are that order's
  // (distinct) lineitem lines; Formatters.explodeParts emits one
  // singular-typed feature per part with a stable part_no — the
  // reference's per-part run explode
  // (`/root/reference/src/transforms/RunFormatter.ts:83-99`) driven
  // through the full canonical geometry form and oracle-checked.
  private val qExplode = QuerySpec.of(
    "q_ski_explode_parts", {
      import SkiFeatures.sql.{lon0, lat0}
      s"""WITH d AS (
        |  SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem),
        |r AS (
        |  SELECT l_orderkey AS order_id,
        |    CAST(row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber) - 1 AS INT) AS part_no,
        |    $lon0 AS lon0, $lat0 AS lat0
        |  FROM d)
        |SELECT order_id, part_no, 'LineString' AS geom_type,
        |  (floor((lon0) * 1e6 + 0.5) / 1e6) AS x0, (floor((lat0) * 1e6 + 0.5) / 1e6) AS y0, 3 AS npts
        |FROM r ORDER BY order_id, part_no""".stripMargin
    }) { (s, d) =>
    val li = graft.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber")).distinct()
    import SkiFeatures.{lon0, lat0, dx, dy}
    val line = array(
      array(lon0, lat0),
      array(lon0 + dx, lat0 + dy),
      array(lon0 + dx * 2, lat0 + dy))
    val multi = li
      .select(col("l_orderkey").as("order_id"),
        col("l_linenumber").as("ln"), line.as("line"))
      .groupBy("order_id")
      .agg(transform(
        sort_array(collect_list(struct(col("ln"), col("line")))),
        p => array(p.getField("line"))).as("parts"))
      .withColumn("geomType", lit("MultiLineString"))
    Formatters.explodeParts(multi)
      .select(col("order_id"), col("part_no"),
        col("geomType").as("geom_type"),
        (floor((element_at(element_at(element_at(col("part"), 1), 1), 1)) * 1e6 + 0.5) / 1e6)
          .as("x0"),
        (floor((element_at(element_at(element_at(col("part"), 1), 1), 2)) * 1e6 + 0.5) / 1e6)
          .as("y0"),
        size(element_at(col("part"), 1)).as("npts"))
      .orderBy("order_id", "part_no")
  }

  val specs: Seq[QuerySpec] = Seq(qMultiAssign, qCentralMulti, qExplode)
}
