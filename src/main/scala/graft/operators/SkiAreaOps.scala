package graft.operators

import graft.QuerySpec
import graft.functions.GeoFunctions
import graft.functions.GeoFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import SkiFeatures.{CellDeg, RadiusM}

/** Ski-area object operations: the Skimap↔OSM merge (clustering step 4,
  * `/root/reference/src/clustering/MergeSkiAreaObjects.ts:8-100`), the
  * guaranteed-inside central point (G6,
  * `src/transforms/GeoTransforms.ts:16-82`), the synthetic ski-area
  * point (G4, `src/clustering/SkiAreaClusteringService.ts:1273-1300`)
  * and a bbox/center viewport hint (G7, documented stand-in for the
  * unvendored openskidata-format computeViewportHint).
  *
  * Merge semantics: each Skimap.org ski area merges into every OSM ski
  * area within 500 m sharing an activity (grid-cell candidate join) —
  * name/status/wikidata first-non-null (primary first), activities
  * union, websites prefer the pure-OSM side when it has any, geometry
  * prefers the non-placeholder side ([360, 360] placeholder rule).
  * Merged Skimap areas are removed; unmatched ones survive standalone.
  * Multi-merge reduces in ascending Skimap id order (the reference
  * reduces in cursor order — canonicalized here).
  */
object SkiAreaOps {

  // ---- step 4: Skimap ↔ OSM ski-area merge -------------------------------
  private val qMerge = QuerySpec.of(
    "q_ski_area_merge", {
      val hav = GeoFunctions.sqlHaversineM("o.lon", "o.lat", "k.lon", "k.lat")
      s"""WITH osm AS (
        |  SELECT o_orderkey AS area_id,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |      ELSE 'Osm ' || CAST(o_orderkey AS VARCHAR) END AS name,
        |    CASE WHEN o_orderkey % 2 = 0 THEN ['downhill'] ELSE ['nordic'] END AS acts,
        |    CASE WHEN o_orderkey % 3 = 0
        |      THEN ['https://osm.example/' || CAST(o_orderkey AS VARCHAR)]
        |      ELSE [] END AS websites,
        |    CASE WHEN o_orderkey % 11 = 0
        |      THEN 'Q' || CAST(o_orderkey AS VARCHAR) END AS wikidata,
        |    (o_orderkey % 5 = 0) AS placeholder,
        |    CASE WHEN o_orderkey % 5 = 0 THEN CAST(360 AS DOUBLE)
        |      ELSE ${SkiFeatures.sql.anchorLon("o_orderkey")}
        |    END AS glon,
        |    CASE WHEN o_orderkey % 5 = 0 THEN CAST(360 AS DOUBLE)
        |      ELSE ${SkiFeatures.sql.anchorLat("o_orderkey")}
        |    END AS glat,
        |    ${SkiFeatures.sql.anchorLon("o_orderkey")} AS lon,
        |    ${SkiFeatures.sql.anchorLat("o_orderkey")} AS lat
        |  FROM orders WHERE ${SkiFeatures.sql.isArea("o_orderkey")}),
        |sk AS (
        |  SELECT o_orderkey AS sk_id, 'Skimap ' || CAST(o_orderkey AS VARCHAR) AS name,
        |    CASE WHEN o_orderkey % 2 = 0 THEN ['downhill']
        |      ELSE ['downhill', 'nordic'] END AS acts,
        |    ['https://skimap.example/' || CAST(o_orderkey AS VARCHAR)] AS websites,
        |    CASE WHEN o_orderkey % 13 = 0
        |      THEN 'Q' || CAST(o_orderkey * 2 AS VARCHAR) END AS wikidata,
        |    ${SkiFeatures.sql.anchorLon("o_orderkey")} AS lon,
        |    ${SkiFeatures.sql.anchorLat("o_orderkey")} AS lat
        |  FROM orders WHERE o_orderkey % 41 = 0),
        |ocell AS (
        |  ${GridJoin.sqlWalk("area_id, lon, lat, acts", "lon", "lat", "osm",
              CellDeg, GridJoin.Within(RadiusM))}),
        |kcell AS (
        |  SELECT sk_id, lon, lat, acts,
        |    CAST(floor(lon / $CellDeg) AS BIGINT) AS cx,
        |    CAST(floor(lat / $CellDeg) AS BIGINT) AS cy
        |  FROM sk),
        |matched AS (
        |  SELECT o.area_id, k.sk_id
        |  FROM ocell o JOIN kcell k ON o.cx = k.cx AND o.cy = k.cy
        |  WHERE ($hav) <= $RadiusM
        |    AND (len(list_intersect(o.acts, k.acts)) > 0
        |      OR len(k.acts) = 0)),
        |msk AS (
        |  SELECT m.area_id,
        |    list_sort(list_distinct(flatten(list(k.acts)))) AS sk_acts,
        |    list_sort(list_distinct(flatten(list(k.websites)))) AS sk_webs
        |  FROM matched m JOIN sk k ON m.sk_id = k.sk_id
        |  GROUP BY m.area_id),
        |mfirst AS (
        |  SELECT m.area_id, k.name AS first_name, k.lon AS first_lon,
        |    k.lat AS first_lat
        |  FROM matched m JOIN sk k ON m.sk_id = k.sk_id
        |  QUALIFY row_number() OVER (PARTITION BY m.area_id
        |    ORDER BY m.sk_id) = 1),
        |mwk AS (
        |  SELECT m.area_id, k.wikidata
        |  FROM matched m JOIN sk k ON m.sk_id = k.sk_id
        |  QUALIFY row_number() OVER (PARTITION BY m.area_id
        |    ORDER BY CASE WHEN k.wikidata IS NULL THEN 1 ELSE 0 END, m.sk_id) = 1),
        |merged AS (
        |  SELECT o.area_id, 'openstreetmap' AS source,
        |    coalesce(o.name, f.first_name) AS name,
        |    array_to_string(list_sort(list_distinct(o.acts ||
        |      coalesce(s.sk_acts, []))), ';') AS activities,
        |    coalesce(array_to_string(
        |      CASE WHEN len(o.websites) > 0 THEN list_sort(o.websites)
        |        ELSE list_sort(list_distinct(o.websites ||
        |          coalesce(s.sk_webs, []))) END, ';'), '') AS websites,
        |    coalesce(o.wikidata, w.wikidata) AS wikidata,
        |    (floor((CASE WHEN o.placeholder AND f.first_lon IS NOT NULL
        |      THEN f.first_lon ELSE o.glon END) * 1e6 + 0.5) / 1e6) AS lon,
        |    (floor((CASE WHEN o.placeholder AND f.first_lat IS NOT NULL
        |      THEN f.first_lat ELSE o.glat END) * 1e6 + 0.5) / 1e6) AS lat
        |  FROM osm o LEFT JOIN msk s ON o.area_id = s.area_id
        |  LEFT JOIN mfirst f ON o.area_id = f.area_id
        |  LEFT JOIN mwk w ON o.area_id = w.area_id),
        |standalone AS (
        |  SELECT sk_id AS area_id, 'skimap' AS source, name,
        |    array_to_string(list_sort(acts), ';') AS activities,
        |    array_to_string(list_sort(websites), ';') AS websites,
        |    wikidata, (floor((lon) * 1e6 + 0.5) / 1e6) AS lon, (floor((lat) * 1e6 + 0.5) / 1e6) AS lat
        |  FROM sk WHERE sk_id NOT IN (SELECT sk_id FROM matched))
        |SELECT * FROM merged
        |UNION ALL SELECT * FROM standalone
        |ORDER BY source, area_id""".stripMargin
    }) { (s, d) =>
    val o = graft.Tables.orders(s, d)
    val anchorLon = SkiFeatures.anchorLon(col("o_orderkey"))
    val anchorLat = SkiFeatures.anchorLat(col("o_orderkey"))
    // its own select, not SkiFeatures.areas: glon and lon both read the
    // anchor, so a second projection over areas' would not collapse
    val osm = o.filter(SkiFeatures.isArea(col("o_orderkey")))
      .select(col("o_orderkey").as("area_id"),
        when(pmod(col("o_orderkey"), lit(7)) =!= 0,
          concat(lit("Osm "), col("o_orderkey"))).as("name"),
        when(pmod(col("o_orderkey"), lit(2)) === 0, array(lit("downhill")))
          .otherwise(array(lit("nordic"))).as("acts"),
        when(pmod(col("o_orderkey"), lit(3)) === 0,
          array(concat(lit("https://osm.example/"), col("o_orderkey"))))
          .otherwise(array().cast("array<string>")).as("websites"),
        when(pmod(col("o_orderkey"), lit(11)) === 0,
          concat(lit("Q"), col("o_orderkey"))).as("wikidata"),
        (pmod(col("o_orderkey"), lit(5)) === 0).as("placeholder"),
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit(360.0))
          .otherwise(anchorLon).as("glon"),
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit(360.0))
          .otherwise(anchorLat).as("glat"),
        anchorLon.as("lon"), anchorLat.as("lat"))
      .localCheckpoint()
    val sk = o.filter(pmod(col("o_orderkey"), lit(41)) === 0)
      .select(col("o_orderkey").as("sk_id"),
        concat(lit("Skimap "), col("o_orderkey")).as("name"),
        when(pmod(col("o_orderkey"), lit(2)) === 0, array(lit("downhill")))
          .otherwise(array(lit("downhill"), lit("nordic"))).as("acts"),
        array(concat(lit("https://skimap.example/"), col("o_orderkey")))
          .as("websites"),
        when(pmod(col("o_orderkey"), lit(13)) === 0,
          concat(lit("Q"), col("o_orderkey") * 2)).as("wikidata"),
        anchorLon.as("lon"), anchorLat.as("lat"))
      .localCheckpoint()
    mergeSkiAreas(osm, sk, RadiusM, CellDeg).orderBy("source", "area_id")
  }

  /** Skimap.org ↔ OSM ski-area merge (clustering steps 4-5,
    * `/root/reference/src/clustering/SkiAreaClusteringService.ts:781-899`
    * + `MergeSkiAreaObjects.ts:8-100`; scenario suite
    * `ClusterSkiAreas.integration.test.ts:1358-1728`). Rules:
    *  - a Skimap area merges into every OSM area within radiusM whose
    *    activities overlap (or that has no conflicting activities via
    *    the candidate filter);
    *  - merged activities/websites are set unions, but OSM-sourced
    *    websites are PREFERRED when present (`:1623`);
    *  - OSM name wins; a nameless OSM area takes the first matched
    *    Skimap name (lowest sk_id — deterministic stand-in for the
    *    reference's encounter order);
    *  - wikidata: OSM's, else the first matched Skimap value;
    *  - placeholder (site=piste synthetic) OSM geometry is replaced by
    *    the first matched Skimap position (`PlaceholderSiteGeometry`);
    *  - matched Skimap originals are deleted; unmatched ones pass
    *    through as standalone areas (`:1662`).
    *
    * osm: (area_id, name, acts, websites, wikidata, placeholder,
    * glon, glat, lon, lat); sk: (sk_id, name, acts, websites,
    * wikidata, lon, lat). Returns (area_id, source, name, activities,
    * websites, wikidata, lon, lat), unordered.
    */
  def mergeSkiAreas(osm: DataFrame, sk: DataFrame, radiusM: Double,
      cellDeg: Double): DataFrame = {
    val matched = GridJoin(
      osm.select(col("area_id"), col("lon").as("l_lon"),
        col("lat").as("l_lat"), col("acts").as("oacts")),
      sk.select(col("sk_id"), col("lon"), col("lat"), col("acts")),
      (col("l_lon"), col("l_lat")), (col("lon"), col("lat")),
      cellDeg, GridJoin.Within(radiusM))
      // A Skimap area with UNKNOWN activities matches as if it had all
      // of them (`SkiAreaClusteringService.ts:796-799`, scenario :1559).
      .filter(size(array_intersect(col("oacts"), col("acts"))) > 0 ||
        size(col("acts")) === 0)
      .select("area_id", "sk_id")
      .localCheckpoint()
    combineMerge(osm, sk, matched)
  }

  /** The reference's actual merge-candidate search is OBJECT-mediated:
    * a Skimap area merges into the OSM areas that OWN an object (run /
    * lift) within the 250 m buffer of the Skimap geometry — not into
    * areas whose own anchor happens to be nearby
    * (`SkiAreaClusteringService.ts:823-857` `getSkiAreasToMergeInto`:
    * findNearbyObjects → flatMap(_.skiAreas)). This is what lets a
    * Skimap area merge into an OSM super-polygon whose anchor is far
    * away but whose member objects surround it (scenario `:1728`), and
    * into both a sub-area and a super-area at once (`:1814`) — while an
    * object-less super-area never matches (`:1662`).
    *
    * `objects` = member-object positions `(area_id, lon, lat)`, one row
    * per (owning area, object). Matching shuffles only the narrow
    * object/sk position rows through the shared grid kernel; the
    * activity-compat filter joins on the (small) per-area activity dim.
    */
  def mergeSkiAreasViaObjects(osm: DataFrame, sk: DataFrame,
      objects: DataFrame, radiusM: Double, cellDeg: Double): DataFrame = {
    val matched = GridJoin(
      sk.select(col("sk_id"), col("lon").as("l_lon"), col("lat").as("l_lat"),
        col("acts")),
      objects.select(col("area_id"), col("lon"), col("lat")),
      (col("l_lon"), col("l_lat")), (col("lon"), col("lat")),
      cellDeg, GridJoin.Within(radiusM))
      .select("area_id", "sk_id", "acts")
      .distinct()
      .join(osm.select(col("area_id"), col("acts").as("oacts")), "area_id")
      .filter(size(array_intersect(col("oacts"), col("acts"))) > 0 ||
        size(col("acts")) === 0)
      .select("area_id", "sk_id")
      .localCheckpoint()
    combineMerge(osm, sk, matched)
  }

  /** Applies the merge-combine rules to `matched` (area_id, sk_id)
    * pairs: union activities/websites, prefer-OSM websites, first-match
    * name/wikidata/placeholder-geometry fallbacks, standalone
    * pass-through of unmatched Skimap areas.
    */
  private def combineMerge(osm: DataFrame, sk: DataFrame,
      matched: DataFrame): DataFrame = {
    val mj = matched.join(sk, "sk_id")
    val bySk = Window.partitionBy("area_id").orderBy("sk_id")
    val firsts = mj
      .withColumn("rn", row_number().over(bySk))
      .filter(col("rn") === 1)
      .select(col("area_id"), col("name").as("first_name"),
        col("lon").as("first_lon"), col("lat").as("first_lat"))
    val aggd = mj.groupBy("area_id")
      .agg(
        sort_array(array_distinct(flatten(collect_list(col("acts")))))
          .as("sk_acts"),
        sort_array(array_distinct(flatten(collect_list(col("websites")))))
          .as("sk_webs"))
    val wkWin = Window.partitionBy("area_id")
      .orderBy(when(col("wikidata").isNull, 1).otherwise(0), col("sk_id"))
    val mwk = mj.withColumn("rn", row_number().over(wkWin))
      .filter(col("rn") === 1)
      .select(col("area_id"), col("wikidata").as("sk_wikidata"))
    val merged = osm
      .join(aggd, Seq("area_id"), "left")
      .join(firsts, Seq("area_id"), "left")
      .join(mwk, Seq("area_id"), "left")
      .select(col("area_id"), lit("openstreetmap").as("source"),
        coalesce(col("name"), col("first_name")).as("name"),
        concat_ws(";", sort_array(array_distinct(concat(col("acts"),
          coalesce(col("sk_acts"), array().cast("array<string>"))))))
          .as("activities"),
        concat_ws(";",
          when(size(col("websites")) > 0, sort_array(col("websites")))
            .otherwise(sort_array(array_distinct(concat(col("websites"),
              coalesce(col("sk_webs"), array().cast("array<string>")))))))
          .as("websites"),
        coalesce(col("wikidata"), col("sk_wikidata")).as("wikidata"),
        (floor((when(col("placeholder") && col("first_lon").isNotNull,
          col("first_lon")).otherwise(col("glon"))) * 1e6 + 0.5) / 1e6).as("lon"),
        (floor((when(col("placeholder") && col("first_lat").isNotNull,
          col("first_lat")).otherwise(col("glat"))) * 1e6 + 0.5) / 1e6).as("lat"))
    val standalone = sk
      .join(matched.select("sk_id").distinct(), Seq("sk_id"), "left_anti")
      .select(col("sk_id").as("area_id"), lit("skimap").as("source"),
        col("name"),
        concat_ws(";", sort_array(col("acts"))).as("activities"),
        concat_ws(";", sort_array(col("websites"))).as("websites"),
        col("wikidata"),
        (floor((col("lon")) * 1e6 + 0.5) / 1e6).as("lon"), (floor((col("lat")) * 1e6 + 0.5) / 1e6).as("lat"))
    merged.unionByName(standalone)
  }

  // ---- G6: guaranteed-inside central point -------------------------------
  // Even area ids: convex rectangle (centroid inside). Odd ids: a
  // C-shaped ring whose vertex-average centroid falls in the notch —
  // the fallback snaps to the nearest point on the ring boundary.
  private val qCentral = QuerySpec.of(
    "q_ski_central_point", {
      val hav = GeoFunctions.sqlHaversineM("cx0", "cy0", "snap_lon", "snap_lat")
      s"""WITH areas AS (
        |  SELECT o_orderkey AS area_id, (o_orderkey % 2 = 0) AS convex,
        |    ${SkiFeatures.sql.anchorLon("o_orderkey")} AS alon,
        |    ${SkiFeatures.sql.anchorLat("o_orderkey")} AS alat
        |  FROM orders WHERE ${SkiFeatures.sql.isArea("o_orderkey")}),
        |verts AS (
        |  SELECT area_id, convex, alon, alat, (p).k AS k,
        |    alon + (p).vx * 0.001 AS x, alat + (p).vy * 0.001 AS y
        |  FROM areas, unnest(CASE WHEN convex
        |    THEN [{'k': 0, 'vx': CAST(0 AS DOUBLE), 'vy': CAST(0 AS DOUBLE)},
        |          {'k': 1, 'vx': CAST(3 AS DOUBLE), 'vy': CAST(0 AS DOUBLE)},
        |          {'k': 2, 'vx': CAST(3 AS DOUBLE), 'vy': CAST(3 AS DOUBLE)},
        |          {'k': 3, 'vx': CAST(0 AS DOUBLE), 'vy': CAST(3 AS DOUBLE)}]
        |    ELSE [{'k': 0, 'vx': CAST(0 AS DOUBLE), 'vy': CAST(0 AS DOUBLE)},
        |          {'k': 1, 'vx': CAST(3 AS DOUBLE), 'vy': CAST(0 AS DOUBLE)},
        |          {'k': 2, 'vx': CAST(3 AS DOUBLE), 'vy': CAST(1 AS DOUBLE)},
        |          {'k': 3, 'vx': CAST(1 AS DOUBLE), 'vy': CAST(1 AS DOUBLE)},
        |          {'k': 4, 'vx': CAST(1 AS DOUBLE), 'vy': CAST(2 AS DOUBLE)},
        |          {'k': 5, 'vx': CAST(3 AS DOUBLE), 'vy': CAST(2 AS DOUBLE)},
        |          {'k': 6, 'vx': CAST(3 AS DOUBLE), 'vy': CAST(4 AS DOUBLE)},
        |          {'k': 7, 'vx': CAST(0 AS DOUBLE), 'vy': CAST(4 AS DOUBLE)}]
        |    END) AS u(p)),
        |cent AS (
        |  SELECT area_id, any_value(convex) AS convex,
        |    sum(x) / count(*) AS cx0, sum(y) / count(*) AS cy0,
        |    count(*) AS n
        |  FROM verts GROUP BY area_id),
        |edges AS (
        |  SELECT a.area_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2, a.k
        |  FROM verts a JOIN verts b ON a.area_id = b.area_id
        |    AND b.k = (a.k + 1) % (CASE WHEN a.convex THEN 4 ELSE 8 END)),
        |inside AS (
        |  SELECT c.area_id
        |  FROM cent c JOIN edges e ON c.area_id = e.area_id
        |  WHERE ((e.y1 > c.cy0) <> (e.y2 > c.cy0))
        |    AND c.cx0 < (e.x2 - e.x1) * (c.cy0 - e.y1) / (e.y2 - e.y1) + e.x1
        |  GROUP BY c.area_id HAVING count(*) % 2 = 1),
        |proj0 AS (
        |  SELECT e.area_id, e.k, c.cx0, c.cy0, cos(radians(c.cy0)) AS kx,
        |    e.x1, e.y1, e.x2, e.y2
        |  FROM edges e JOIN cent c ON e.area_id = c.area_id
        |  WHERE e.area_id NOT IN (SELECT area_id FROM inside)),
        |${GeoFunctions.sqlSnapCtes("proj0", "cx0", "cy0")},
        |proj5 AS (SELECT *, ($hav) AS dist_m FROM proj4),
        |snapped AS (
        |  SELECT area_id, snap_lon, snap_lat FROM proj5
        |  QUALIFY row_number() OVER (PARTITION BY area_id
        |    ORDER BY dist_m, k) = 1)
        |SELECT c.area_id, (i.area_id IS NOT NULL) AS centroid_inside,
        |  (floor((CASE WHEN i.area_id IS NOT NULL THEN c.cx0 ELSE s.snap_lon END) * 1e6 + 0.5) / 1e6) AS lon,
        |  (floor((CASE WHEN i.area_id IS NOT NULL THEN c.cy0 ELSE s.snap_lat END) * 1e6 + 0.5) / 1e6) AS lat
        |FROM cent c
        |LEFT JOIN inside i ON c.area_id = i.area_id
        |LEFT JOIN snapped s ON c.area_id = s.area_id
        |ORDER BY c.area_id""".stripMargin
    }) { (s, d) =>
    // The C-shape is asymmetric (top arm taller) so the notch centroid
    // is NOT equidistant from the two notch edges — the nearest-edge
    // pick must not ride on float noise.
    val rectXY = Seq((0, 0), (3, 0), (3, 3), (0, 3))
    val cXY = Seq((0, 0), (3, 0), (3, 1), (1, 1), (1, 2), (3, 2), (3, 4), (0, 4))
    def ring(pts: Seq[(Int, Int)]): Column = array(pts.map { case (vx, vy) =>
      array(col("alon") + lit(vx.toDouble) * 0.001,
        col("alat") + lit(vy.toDouble) * 0.001)
    }: _*)
    val areas = SkiFeatures.areas(s, d)
      .select(col("area_id"), (pmod(col("area_id"), lit(2)) === 0).as("convex"),
        col("lon").as("alon"), col("lat").as("alat"))
      .withColumn("ring",
        when(col("convex"), ring(rectXY)).otherwise(ring(cXY)))
    val c = GeoFunctions.centroid(col("ring"))
    val withC = areas
      .withColumn("cx0", c.getField("lon"))
      .withColumn("cy0", c.getField("lat"))
      .withColumn("ins",
        GeoFunctions.pointInPolygon(col("cx0"), col("cy0"), col("ring")))
    // closed ring for the boundary walk: append the first vertex
    val closed = concat(col("ring"), slice(col("ring"), 1, 1))
    val np = GeoFunctions.nearestPointOnLine(col("cx0"), col("cy0"), closed)
    withC
      .withColumn("np", np)
      .select(col("area_id"), col("ins").as("centroid_inside"),
        (floor((when(col("ins"), col("cx0"))
          .otherwise(col("np.lon"))) * 1e6 + 0.5) / 1e6).as("lon"),
        (floor((when(col("ins"), col("cy0"))
          .otherwise(col("np.lat"))) * 1e6 + 0.5) / 1e6).as("lat"))
      .orderBy("area_id")
  }

  // ---- G4 + G7: synthetic ski-area point + viewport hint -----------------
  // Members = kept runs grid-assigned to the area (min-area); centroid
  // over every member vertex; nearest member vertex to the centroid;
  // if they are >100 m apart the point sits 0.1 km along the
  // nearest→centroid line (linear interpolation stand-in for turf
  // `along`), else at the centroid. G7 = member-vertex bbox + center.
  private val qAreaPoint = QuerySpec.of(
    "q_ski_area_point", {
      val havAssign = GeoFunctions.sqlHaversineM("a.alon", "a.alat", "r.lon0", "r.lat0")
      val havC = GeoFunctions.sqlHaversineM("cx0", "cy0", "px", "py")
      s"""WITH ${SkiQueries.oraclePrelude},
        |areas AS (${SkiFeatures.sql.areas()}),
        |acells AS (
        |  ${GridJoin.sqlWalk("area_id, alon, alat", "alon", "alat", "areas",
              CellDeg, GridJoin.Within(RadiusM))}),
        |rr AS (
        |  SELECT way_id, lon0, lat0, dx, dy,
        |    CAST(floor(lon0 / $CellDeg) AS BIGINT) AS cx,
        |    CAST(floor(lat0 / $CellDeg) AS BIGINT) AS cy
        |  FROM kept),
        |rasg AS (
        |  SELECT r.way_id, min(a.area_id) AS area_id
        |  FROM acells a JOIN rr r ON a.cx = r.cx AND a.cy = r.cy
        |  WHERE ($havAssign) <= $RadiusM GROUP BY r.way_id),
        |pts AS (
        |  SELECT g.area_id, r.way_id, u.pidx,
        |    CASE u.pidx WHEN 0 THEN lon0 WHEN 1 THEN lon0 + dx
        |      ELSE lon0 + dx * 2 END AS px,
        |    CASE u.pidx WHEN 0 THEN lat0 ELSE lat0 + dy END AS py
        |  FROM rr r JOIN rasg g ON r.way_id = g.way_id,
        |    unnest([0, 1, 2]) AS u(pidx)),
        |cent AS (
        |  SELECT area_id, count(DISTINCT way_id) AS n_members,
        |    floor(CAST(sum(CAST(floor(px * 100000000.0 + 0.5) AS BIGINT))
        |      AS DOUBLE) / count(*) / 100000000.0
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS cx0,
        |    floor(CAST(sum(CAST(floor(py * 100000000.0 + 0.5) AS BIGINT))
        |      AS DOUBLE) / count(*) / 100000000.0
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS cy0,
        |    min(px) AS bw, min(py) AS bs, max(px) AS be, max(py) AS bn
        |  FROM pts GROUP BY area_id),
        |nearest AS (
        |  SELECT p.area_id, p.px, p.py, c.cx0, c.cy0, c.n_members,
        |    c.bw, c.bs, c.be, c.bn, ($havC) AS dist_m
        |  FROM pts p JOIN cent c ON p.area_id = c.area_id
        |  QUALIFY row_number() OVER (PARTITION BY p.area_id
        |    ORDER BY ($havC), p.way_id, p.pidx) = 1)
        |SELECT area_id, n_members,
        |  floor((CASE WHEN dist_m > 100.0
        |    THEN px + (cx0 - px) * (100.0 / dist_m)
        |    ELSE cx0 END) * 1000000.0 + 0.5) / 1000000.0 AS lon,
        |  floor((CASE WHEN dist_m > 100.0
        |    THEN py + (cy0 - py) * (100.0 / dist_m)
        |    ELSE cy0 END) * 1000000.0 + 0.5) / 1000000.0 AS lat,
        |  floor(bw * 1000000.0 + 0.5) / 1000000.0 AS bbox_w,
        |  floor(bs * 1000000.0 + 0.5) / 1000000.0 AS bbox_s,
        |  floor(be * 1000000.0 + 0.5) / 1000000.0 AS bbox_e,
        |  floor(bn * 1000000.0 + 0.5) / 1000000.0 AS bbox_n,
        |  floor((bw + be) / 2 * 1000000.0 + 0.5) / 1000000.0 AS center_lon,
        |  floor((bs + bn) / 2 * 1000000.0 + 0.5) / 1000000.0 AS center_lat
        |FROM nearest ORDER BY area_id""".stripMargin
    }) { (s, d) =>
    val areas = SkiFeatures.areas(s, d)
      .select(col("area_id"), col("lon").as("alon"), col("lat").as("alat"))
    def p1(j: Int) = element_at(element_at(col("coords"), 1), j)
    val rr = SkiQueries.formatted(s, d).filter(col("kept"))
      .select(col("way_id"), col("coords"),
        p1(1).as("lon"), p1(2).as("lat"))
    val rasg = SkiQueries.nearestArea(areas, rr, "way_id")
    val pts = rr.join(rasg, "way_id")
      .select(col("area_id"), col("way_id"),
        posexplode(col("coords")))
      .select(col("area_id"), col("way_id"), col("pos").as("pidx"),
        element_at(col("col"), 1).as("px"),
        element_at(col("col"), 2).as("py"))
    // centroid sums run over nanodegree-quantized INTEGERS (128-bit
    // accumulators both engines): a double sum's value depends on
    // partial-sum order, and at sf1 an area has enough member points
    // for Spark's combine order vs DuckDB's scan order to differ by
    // an ulp exactly on a round(...,9) boundary — the r15 sweep caught
    // one row's 6dp lat flipping. Integer sums are order-free; the
    // final division replays the identical double formula on both
    // sides, so cx0/cy0 are bit-identical across engines.
    // quantization itself uses the same engine-agnostic floor form as
    // the outputs: round(double, 0) HALF_UPs the shortest decimal repr
    // in Spark but rounds the binary value in DuckDB, so a px*1e8 near
    // a half would reintroduce the very tie class this fix removes.
    // floor(x·1e8 + 0.5) is pure IEEE double arithmetic — identical on
    // identical inputs, half rounds toward +∞ on BOTH sides (sign-
    // consistent for negative coordinates by construction).
    def exactMean(c: String) =
      floor(sum(expr(s"CAST(floor($c * 100000000.0 + 0.5) AS DECIMAL(38,0))"))
        .cast("double") / count(lit(1)) / 100000000.0
        * 1000000000.0 + 0.5) / 1000000000.0
    val cent = pts.groupBy("area_id")
      .agg(countDistinct("way_id").as("n_members"),
        exactMean("px").as("cx0"),
        exactMean("py").as("cy0"),
        min("px").as("bw"), min("py").as("bs"),
        max("px").as("be"), max("py").as("bn"))
    val w = Window.partitionBy("area_id")
      .orderBy(col("dist_m"), col("way_id"), col("pidx"))
    // engine-agnostic 6dp rounding: round(double, 6) TIES diverge
    // across engines (Spark HALF_UPs the shortest decimal repr;
    // DuckDB rounds the binary value) — the r15 sf1 sweep hit an
    // exact ...5625 centroid whose 6th digit flipped. floor(x·10⁶ +
    // 0.5)/10⁶ is pure double arithmetic, bit-identical on identical
    // inputs (half rounds toward +∞ on both sides by construction).
    def r6(c: org.apache.spark.sql.Column) =
      floor(c * 1000000.0 + 0.5) / 1000000.0
    pts.join(cent, "area_id")
      .withColumn("dist_m",
        haversineM(col("cx0"), col("cy0"), col("px"), col("py")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("area_id"), col("n_members"),
        r6(when(col("dist_m") > 100.0,
          col("px") + (col("cx0") - col("px")) * (lit(100.0) / col("dist_m")))
          .otherwise(col("cx0"))).as("lon"),
        r6(when(col("dist_m") > 100.0,
          col("py") + (col("cy0") - col("py")) * (lit(100.0) / col("dist_m")))
          .otherwise(col("cy0"))).as("lat"),
        r6(col("bw")).as("bbox_w"), r6(col("bs")).as("bbox_s"),
        r6(col("be")).as("bbox_e"), r6(col("bn")).as("bbox_n"),
        r6((col("bw") + col("be")) / 2).as("center_lon"),
        r6((col("bs") + col("bn")) / 2).as("center_lat"))
      .orderBy("area_id")
  }

  // ---- step 9/10: augmentation + geometry-less removal -------------------
  // (`SkiAreaClusteringService.ts:1181-1271`): per ski area — OSM areas
  // with no member objects and no Skimap source are REMOVED; places
  // come from member-run places (deduped + nulls-last sorted per
  // PlaceUtils), falling back to geocoding the area's own point;
  // runConvention derives from the geometry; the viewport hint is the
  // member bbox center. Placeholder-geometry OSM areas are removed at
  // the end (step 10, `removeSkiAreasWithoutGeometry`). Member places
  // reuse the geohash-6 place stub of each member run's first point.
  private val qAugment = QuerySpec.of(
    "q_ski_area_augment", {
      val havAssign = GeoFunctions.sqlHaversineM("a.alon", "a.alat", "r.lon0", "r.lat0")
      val (lonN, latN, iv, gh) = GeoFunctions.sqlGeohash6("plon", "plat")
      val conv = OutputFormats.sqlDifficultyConvention("alon", "alat")
      s"""WITH ${SkiQueries.oraclePrelude},
        |areas AS (
        |  SELECT o_orderkey AS area_id,
        |    (o_orderkey % 41 = 0) AS has_skimap,
        |    (o_orderkey % 5 = 0) AS placeholder,
        |    ${SkiFeatures.sql.anchorLon("o_orderkey")} AS alon,
        |    ${SkiFeatures.sql.anchorLat("o_orderkey")} AS alat
        |  FROM orders WHERE ${SkiFeatures.sql.isArea("o_orderkey")}),
        |acells AS (
        |  ${GridJoin.sqlWalk("area_id, alon, alat", "alon", "alat", "areas",
              CellDeg, GridJoin.Within(RadiusM))}),
        |rr AS (
        |  SELECT way_id, lon0, lat0, dx, dy,
        |    CAST(floor(lon0 / $CellDeg) AS BIGINT) AS cx,
        |    CAST(floor(lat0 / $CellDeg) AS BIGINT) AS cy
        |  FROM kept),
        |rasg AS (
        |  SELECT r.way_id, min(a.area_id) AS area_id,
        |    any_value(r.lon0) AS plon, any_value(r.lat0) AS plat
        |  FROM acells a JOIN rr r ON a.cx = r.cx AND a.cy = r.cy
        |  WHERE ($havAssign) <= $RadiusM GROUP BY r.way_id),
        |keyg1 AS (SELECT area_id, way_id, plon, plat, $lonN AS lonN, $latN AS latN FROM rasg),
        |keyg2 AS (SELECT area_id, way_id, $iv AS iv FROM keyg1),
        |keyg3 AS (SELECT area_id, way_id, $gh AS key FROM keyg2),
        |mplaces AS (
        |  SELECT area_id,
        |    array_to_string(list_sort(list_distinct(
        |      list(${Geocoding.sqlStubPlaceFor("key")}))), '; ') AS places,
        |    count(*) AS n_members
        |  FROM keyg3 GROUP BY area_id),
        |abbox AS (
        |  SELECT g.area_id,
        |    (floor(((min(r.lon0) + max(r.lon0)) / 2) * 1e6 + 0.5) / 1e6) AS center_lon,
        |    (floor(((min(r.lat0) + max(r.lat0)) / 2) * 1e6 + 0.5) / 1e6) AS center_lat
        |  FROM rasg g JOIN rr r ON g.way_id = r.way_id GROUP BY g.area_id),
        |selfg1 AS (SELECT area_id, alon AS plon, alat AS plat FROM areas),
        |selfg2 AS (SELECT area_id, $lonN AS lonN, $latN AS latN FROM selfg1),
        |selfg3 AS (SELECT area_id, $iv AS iv FROM selfg2),
        |selfg4 AS (SELECT area_id, $gh AS key FROM selfg3),
        |selfplace AS (
        |  SELECT area_id, ${Geocoding.sqlStubPlaceFor("key")} AS place
        |  FROM selfg4)
        |SELECT a.area_id, a.has_skimap,
        |  coalesce(m.n_members, 0) AS n_members,
        |  ($conv) AS run_convention,
        |  coalesce(m.places, s.place) AS places,
        |  coalesce(b.center_lon, (floor((a.alon) * 1e6 + 0.5) / 1e6)) AS center_lon,
        |  coalesce(b.center_lat, (floor((a.alat) * 1e6 + 0.5) / 1e6)) AS center_lat
        |FROM areas a
        |LEFT JOIN mplaces m ON a.area_id = m.area_id
        |LEFT JOIN abbox b ON a.area_id = b.area_id
        |LEFT JOIN selfplace s ON a.area_id = s.area_id
        |WHERE (m.area_id IS NOT NULL OR a.has_skimap) AND NOT a.placeholder
        |ORDER BY a.area_id""".stripMargin
    }) { (s, d) =>
    val areas = SkiFeatures.areas(s, d)
      .select(col("area_id"),
        (pmod(col("area_id"), lit(41)) === 0).as("has_skimap"),
        (pmod(col("area_id"), lit(5)) === 0).as("placeholder"),
        col("lon").as("alon"), col("lat").as("alat"))
      .localCheckpoint()
    def p1(j: Int) = element_at(element_at(col("coords"), 1), j)
    val rr = SkiQueries.formatted(s, d).filter(col("kept"))
      .select(col("way_id"), p1(1).as("lon"), p1(2).as("lat"))
    val rasg = SkiQueries.nearAreas(areas.select("area_id", "alon", "alat"), rr)
      .groupBy("way_id")
      .agg(min("area_id").as("area_id"),
        first("lon").as("plon"), first("lat").as("plat"))
    val mplaces = rasg
      .withColumn("place", Geocoding.stubPlaceFor(
        GeoFunctions.geohash6(col("plon"), col("plat"))))
      .groupBy("area_id")
      .agg(array_join(array_sort(array_distinct(collect_list(col("place")))),
        "; ").as("places"),
        count(lit(1)).as("n_members"))
    val abbox = rasg.groupBy("area_id")
      .agg((floor(((min("plon") + max("plon")) / 2) * 1e6 + 0.5) / 1e6).as("center_lon"),
        (floor(((min("plat") + max("plat")) / 2) * 1e6 + 0.5) / 1e6).as("center_lat"))
    val selfplace = areas.select(col("area_id"),
      Geocoding.stubPlaceFor(
        GeoFunctions.geohash6(col("alon"), col("alat"))).as("self_place"))
    areas
      .join(mplaces, Seq("area_id"), "left")
      .join(abbox, Seq("area_id"), "left")
      .join(selfplace, Seq("area_id"), "left")
      .filter((col("n_members").isNotNull || col("has_skimap"))
        && !col("placeholder"))
      .select(col("area_id"), col("has_skimap"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        OutputFormats.difficultyConvention(col("alon"), col("alat"))
          .as("run_convention"),
        coalesce(col("places"), col("self_place")).as("places"),
        coalesce(col("center_lon"), (floor((col("alon")) * 1e6 + 0.5) / 1e6)).as("center_lon"),
        coalesce(col("center_lat"), (floor((col("alat")) * 1e6 + 0.5) / 1e6)).as("center_lat"))
      .orderBy("area_id")
  }

  // ---- P3: the three-source formatter union as a distinct operator -------
  // Landuse areas synthesize from part (sport gate, geometry-type gate,
  // ring-validity gate, `landuse` lifecycle), sites from supplier
  // (`site` lifecycle, [360,360,id] placeholder geometry), Skimap areas
  // from customer (status/activities/name carried through). The oracle
  // replays every gate from the flat columns.
  private val qFormatUnion = QuerySpec.of(
    "q_ski_area_format_union", {
      val conv = OutputFormats.sqlDifficultyConvention("lon", "lat")
      s"""WITH lu AS (
        |  SELECT 'openstreetmap' AS source,
        |    'way/' || CAST(p_partkey AS VARCHAR) AS src_id,
        |    CASE p_partkey % 5 WHEN 0 THEN 'operating'
        |      WHEN 1 THEN 'abandoned' WHEN 3 THEN 'proposed'
        |      WHEN 4 THEN 'operating' END AS status,
        |    CASE WHEN p_partkey % 2 = 0 THEN p_name END AS name,
        |    CASE WHEN p_partkey % 6 = 0
        |      THEN 'https://example.com/a' || CAST(p_partkey AS VARCHAR)
        |      END AS website,
        |    CASE WHEN p_partkey % 8 = 0
        |      THEN 'Q' || CAST(p_partkey AS VARCHAR) END AS wikidata_id,
        |    '' AS activities,
        |    ${SkiFeatures.sql.anchorLon("p_partkey")} AS lon,
        |    ${SkiFeatures.sql.anchorLat("p_partkey")} AS lat
        |  FROM part
        |  WHERE p_partkey % 4 <> 3
        |    AND p_partkey % 3 <> 2
        |    AND p_partkey % 7 <> 0
        |    AND p_partkey % 5 <> 2),
        |lu2 AS (
        |  SELECT source, src_id, status, name, website, wikidata_id,
        |    ($conv) AS run_convention, activities, lon, lat
        |  FROM lu),
        |si AS (
        |  SELECT 'openstreetmap' AS source,
        |    'relation/' || CAST(s_suppkey AS VARCHAR) AS src_id,
        |    CASE s_suppkey % 4 WHEN 0 THEN 'operating'
        |      WHEN 1 THEN 'disused' WHEN 2 THEN 'proposed' END AS status,
        |    -- %4=3 carries removed=yes -> unsupported -> filtered
        |    CASE WHEN s_suppkey % 3 = 0 THEN s_name END AS name,
        |    CASE WHEN s_suppkey % 5 = 0
        |      THEN 'https://example.com/s' || CAST(s_suppkey AS VARCHAR)
        |      END AS website,
        |    CASE WHEN s_suppkey % 7 = 0
        |      THEN 'Q' || CAST(s_suppkey AS VARCHAR) END AS wikidata_id,
        |    'north_america' AS run_convention, '' AS activities,
        |    CAST(360.0 AS DOUBLE) AS lon, CAST(360.0 AS DOUBLE) AS lat
        |  FROM supplier WHERE s_suppkey % 4 <> 3),
        |sm AS (
        |  SELECT 'skimap_org' AS source,
        |    'sm' || CAST(c_custkey AS VARCHAR) AS src_id,
        |    CASE c_custkey % 6 WHEN 0 THEN 'operating' WHEN 1 THEN 'disused'
        |      WHEN 2 THEN 'abandoned' WHEN 3 THEN 'proposed'
        |      WHEN 4 THEN 'planned' ELSE 'operating' END AS status,
        |    CASE WHEN c_custkey % 5 <> 4 THEN c_name END AS name,
        |    CASE WHEN c_custkey % 2 = 0
        |      THEN 'https://skimap.org/' || CAST(c_custkey AS VARCHAR)
        |      END AS website,
        |    CAST(NULL AS VARCHAR) AS wikidata_id,
        |    CASE c_custkey % 3 WHEN 0 THEN 'downhill' WHEN 1 THEN 'nordic'
        |      ELSE 'downhill;nordic' END AS activities,
        |    ${SkiFeatures.sql.anchorLon("c_custkey")} AS lon,
        |    ${SkiFeatures.sql.anchorLat("c_custkey")} AS lat
        |  FROM customer),
        |sm2 AS (
        |  SELECT source, src_id, status, name, website, wikidata_id,
        |    ($conv) AS run_convention, activities, lon, lat
        |  FROM sm),
        |u AS (
        |  SELECT * FROM lu2 UNION ALL SELECT * FROM si
        |  UNION ALL SELECT * FROM sm2)
        |SELECT source, src_id,
        |  ${Formatters.sql.skiAreaId} AS id,
        |  status, name, website, wikidata_id, run_convention, activities,
        |  (floor((lon) * 1e6 + 0.5) / 1e6) AS lon, (floor((lat) * 1e6 + 0.5) / 1e6) AS lat
        |FROM u ORDER BY source, src_id""".stripMargin
    }) { (s, d) =>
    // landuse features: tags + square-ring geometry with deliberate
    // gate-failure classes (sport=soccer, LineString, unclosed ring,
    // removed=yes, no landuse tag)
    val pk = col("p_partkey")
    val luTags = map(
      lit("sport"), when(pmod(pk, lit(4)) === 1, "skiing")
        .when(pmod(pk, lit(4)) === 2, "ski")
        .when(pmod(pk, lit(4)) === 3, "soccer"),
      lit("landuse"), when(pmod(pk, lit(5)).isin(0, 2), "winter_sports"),
      lit("abandoned:landuse"), when(pmod(pk, lit(5)) === 1, "winter_sports"),
      lit("removed"), when(pmod(pk, lit(5)) === 2, "yes"),
      lit("proposed:landuse"), when(pmod(pk, lit(5)) === 3, "winter_sports"),
      lit("name"), when(pmod(pk, lit(2)) === 0, col("p_name")),
      lit("website"), when(pmod(pk, lit(6)) === 0,
        concat(lit("https://example.com/a"), pk)),
      lit("wikidata"), when(pmod(pk, lit(8)) === 0,
        concat(lit("Q"), pk, lit(";Q7"))))
    val alon = SkiFeatures.anchorLon(pk)
    val alat = SkiFeatures.anchorLat(pk)
    val r = lit(0.002)
    val openRing = array(
      array(alon, alat), array(alon + r, alat),
      array(alon + r, alat + r), array(alon, alat + r))
    val ring = when(pmod(pk, lit(7)) === 0, openRing)
      .otherwise(concat(openRing, array(array(alon, alat))))
    val landuse = graft.Tables.fanout(graft.Tables.part(s, d))
      .select(pk.as("area_id"), luTags.as("tags"),
        when(pmod(pk, lit(3)) === 2, "LineString").otherwise("Polygon")
          .as("geomType"),
        ring.as("coords"))
      .localCheckpoint()
    val sk = col("s_suppkey")
    val siTags = map(
      lit("site"), when(pmod(sk, lit(4)).isin(0, 2, 3), "piste"),
      lit("disused:site"), when(pmod(sk, lit(4)) === 1, "piste"),
      lit("proposed"), when(pmod(sk, lit(4)) === 2, "yes"),
      lit("removed"), when(pmod(sk, lit(4)) === 3, "yes"),
      lit("name"), when(pmod(sk, lit(3)) === 0, col("s_name")),
      lit("website"), when(pmod(sk, lit(5)) === 0,
        concat(lit("https://example.com/s"), sk)),
      lit("wikidata"), when(pmod(sk, lit(7)) === 0, concat(lit("Q"), sk)))
    val sites = graft.Tables.supplier(s, d)
      .select(sk.as("site_id"), siTags.as("tags"))
    val ck = col("c_custkey")
    val skimap = graft.Tables.customer(s, d)
      .select(concat(lit("sm"), ck).as("sm_id"),
        when(pmod(ck, lit(5)) =!= 4, col("c_name")).as("name"),
        when(pmod(ck, lit(3)) === 0, array(lit("downhill")))
          .when(pmod(ck, lit(3)) === 1, array(lit("nordic")))
          .otherwise(array(lit("downhill"), lit("nordic"))).as("activities"),
        when(pmod(ck, lit(6)) === 0, "operating")
          .when(pmod(ck, lit(6)) === 1, "disused")
          .when(pmod(ck, lit(6)) === 2, "abandoned")
          .when(pmod(ck, lit(6)) === 3, "proposed")
          .when(pmod(ck, lit(6)) === 4, "planned")
          .otherwise("operating").as("status"),
        when(pmod(ck, lit(2)) === 0,
          concat(lit("https://skimap.org/"), ck)).as("website"),
        SkiFeatures.anchorLon(ck)
          .as("lon"),
        SkiFeatures.anchorLat(ck)
          .as("lat"))
    Formatters.formatSkiAreas(landuse, sites, skimap)
      .select(col("source"), col("src_id"), col("id"), col("status"),
        col("name"), col("website"), col("wikidata_id"),
        col("run_convention"),
        concat_ws(";", col("activities")).as("activities"),
        (floor((col("lon")) * 1e6 + 0.5) / 1e6).as("lon"), (floor((col("lat")) * 1e6 + 0.5) / 1e6).as("lat"))
      .orderBy("source", "src_id")
  }

  val specs: Seq[QuerySpec] =
    Seq(qMerge, qCentral, qAreaPoint, qAugment, qFormatUnion)
}
