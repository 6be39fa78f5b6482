package graft.operators

import graft.QuerySpec
import graft.functions.GeoFunctions
import graft.functions.GeoFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import SkiFeatures.{CellDeg, RadiusM}

/** Priority-layered clustering pipeline (the reference's pass ordering
  * in `performClustering`, `SkiAreaClusteringService.ts:337-447`):
  *
  *   pass 1  objects fully inside an OSM polygon ski area (step 2,
  *           with both area-removal rules applied);
  *   pass 2  proximity closure from OSM areas over objects NOT already
  *           assigned (`onlyIfNotAlreadyAssigned`);
  *   pass 3  generated ski areas from the remaining unassigned runs
  *           (step 6, per-activity components + the ≥1-lift rule).
  *
  * Each pass only sees objects the earlier passes left unassigned —
  * the layering the reference gets from sequential DB updates is an
  * anti-join per pass here. Output: one row per (run, pass, area);
  * pass-3 mixed-activity runs may belong to one generated area per
  * activity (the reference's skiAreas array).
  *
  * Scale notes: three bounded passes, each a grid-cell candidate join
  * + refine; the assignment state between passes is a narrow
  * (way_id) anti-join key, checkpointed once per pass.
  */
object ClusterPipeline {

  private val qPriority = QuerySpec.of(
    "q_ski_cluster_priority", {
      val lenSqlLocal = SkiQueries.lenSql
      val havG = GeoFunctions.sqlHaversineM("l.lon", "l.lat", "r2.lon", "r2.lat")
      val (hexLon, hexLat) =
        SkiFeatures.sql.hexVertex("area_id", "alon", "alat", 0.004)
      s"""WITH RECURSIVE ${SkiQueries.oraclePrelude},
        |areas AS (${SkiFeatures.sql.areas(withAct = true)}),
        |verts AS (
        |  SELECT area_id, alon, alat, k,
        |    $hexLon AS vx,
        |    $hexLat AS vy
        |  FROM areas, unnest([0, 1, 2, 3, 4, 5]) AS uk(k)),
        |pedges AS (
        |  SELECT a.area_id, a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
        |  FROM verts a JOIN verts b
        |    ON a.area_id = b.area_id AND b.k = (a.k + 1) % 6),
        |acells AS (
        |  ${GridJoin.sqlWalk("area_id, act, alon, alat", "alon", "alat",
              "areas", CellDeg, GridJoin.Within(RadiusM))}),
        |rc AS (
        |  SELECT way_id, uses, (way_id % 8 = 3) AS in_site, ($lenSqlLocal) AS len_m,
        |    lon0 AS lon, lat0 AS lat, dx, dy,
        |    CAST(floor(lon0 / $CellDeg) AS BIGINT) AS cx,
        |    CAST(floor(lat0 / $CellDeg) AS BIGINT) AS cy
        |  FROM kept),
        |cand AS (
        |  SELECT a.area_id, r.way_id, r.in_site, r.len_m, r.lon, r.lat, r.dx, r.dy
        |  FROM acells a JOIN rc r ON a.cx = r.cx AND a.cy = r.cy),
        |ppts AS (
        |  SELECT area_id, way_id, in_site, len_m, pidx,
        |    CASE pidx WHEN 0 THEN lon WHEN 1 THEN lon + dx ELSE lon + dx * 2 END AS px,
        |    CASE pidx WHEN 0 THEN lat ELSE lat + dy END AS py
        |  FROM cand, unnest([0, 1, 2]) AS up(pidx)),
        |pinside AS (
        |  SELECT p.area_id, p.way_id, p.in_site, p.len_m, p.pidx
        |  FROM ppts p JOIN pedges e ON p.area_id = e.area_id
        |  WHERE ((e.y1 > p.py) <> (e.y2 > p.py))
        |    AND p.px < (e.x2 - e.x1) * (p.py - e.y1) / (e.y2 - e.y1) + e.x1
        |  GROUP BY 1, 2, 3, 4, 5 HAVING count(*) % 2 = 1),
        |pcovered AS (
        |  SELECT area_id, way_id, any_value(in_site) AS in_site,
        |    any_value(len_m) AS len_m
        |  FROM pinside GROUP BY area_id, way_id HAVING count(*) = 3),
        |psurvive AS (
        |  SELECT area_id FROM pcovered GROUP BY area_id
        |  HAVING NOT (sum(len_m) > 0 AND
        |    sum(CASE WHEN in_site THEN len_m ELSE CAST(0 AS DOUBLE) END)
        |      / sum(len_m) > CAST(0.5 AS DOUBLE))),
        |pass1 AS (
        |  SELECT c.way_id, min(c.area_id) AS area_id
        |  FROM pcovered c JOIN psurvive s ON c.area_id = s.area_id
        |  GROUP BY c.way_id),
        |rc2 AS (
        |  SELECT r.* FROM rc r LEFT JOIN pass1 p ON r.way_id = p.way_id
        |  WHERE p.way_id IS NULL),
        |reach AS (
        |  SELECT a.area_id, a.act, o.way_id AS okey, o.lon, o.lat, o.cx, o.cy
        |  FROM acells a JOIN rc2 o ON a.cx = o.cx AND a.cy = o.cy
        |  WHERE ${GeoFunctions.sqlHaversineM("a.alon", "a.alat", "o.lon", "o.lat")} <= $RadiusM
        |    AND list_contains(o.uses, a.act)
        |  UNION
        |  SELECT r.area_id, r.act, o.way_id, o.lon, o.lat, o.cx, o.cy
        |  FROM reach r JOIN rc2 o
        |    ON ${GridJoin.sqlNear("r", "o", CellDeg, GridJoin.Within(RadiusM))}
        |  WHERE ${GeoFunctions.sqlHaversineM("r.lon", "r.lat", "o.lon", "o.lat")} <= $RadiusM
        |    AND list_contains(o.uses, r.act)),
        |pass2 AS (
        |  SELECT okey AS way_id, min(area_id) AS area_id FROM reach GROUP BY okey),
        |rc3 AS (
        |  SELECT r.* FROM rc2 r LEFT JOIN pass2 p ON r.way_id = p.way_id
        |  WHERE p.way_id IS NULL),
        |gn AS (
        |  SELECT way_id * 2 + CASE WHEN u.act = 'nordic' THEN 1 ELSE 0 END AS nid,
        |    u.act, way_id AS oid, lon, lat, false AS is_lift, cx, cy
        |  FROM rc3, unnest(list_filter(uses,
        |    x -> x IN ('downhill', 'nordic'))) AS u(act)
        |  UNION ALL
        |  SELECT oid * 2 AS nid, act, oid, lon, lat, is_lift,
        |    CAST(floor(lon / $CellDeg) AS BIGINT) AS cx,
        |    CAST(floor(lat / $CellDeg) AS BIGINT) AS cy
        |  FROM (${SkiFeatures.sql.liftNodes})),
        |glc AS (
        |  ${GridJoin.sqlWalk("nid, act, lon, lat", "lon", "lat", "gn",
              CellDeg, GridJoin.Within(RadiusM), ("cx2", "cy2"))}),
        |gpairs AS (
        |  SELECT l.nid AS a, r2.nid AS b
        |  FROM glc l JOIN gn r2
        |    ON l.act = r2.act AND l.cx2 = r2.cx AND l.cy2 = r2.cy
        |  WHERE l.nid < r2.nid AND ($havG) <= $RadiusM),
        |gbi AS (SELECT a, b FROM gpairs UNION ALL SELECT b, a FROM gpairs),
        |greach AS (
        |  SELECT nid, nid AS label FROM gn
        |  UNION
        |  SELECT gbi.b AS nid, r.label FROM greach r
        |  JOIN gbi ON gbi.a = r.nid WHERE r.label < gbi.b),
        |glab AS (SELECT nid, min(label) AS label FROM greach GROUP BY nid),
        |gareas AS (
        |  SELECT n.act, l.label,
        |    count(CASE WHEN NOT n.is_lift THEN 1 END) AS n_runs,
        |    count(CASE WHEN n.is_lift THEN 1 END) AS n_lifts
        |  FROM gn n JOIN glab l ON n.nid = l.nid GROUP BY 1, 2),
        |gkeep AS (
        |  SELECT act, label FROM gareas
        |  WHERE n_runs > 0 AND NOT (act = 'downhill' AND n_lifts = 0)),
        |pass3 AS (
        |  SELECT DISTINCT n.oid AS way_id, l.label // 2 AS area_id
        |  FROM gn n JOIN glab l ON n.nid = l.nid
        |  JOIN gkeep k ON l.label = k.label AND n.act = k.act
        |  WHERE NOT n.is_lift)
        |SELECT way_id, 1 AS pass, area_id FROM pass1
        |UNION ALL SELECT way_id, 2 AS pass, area_id FROM pass2
        |UNION ALL SELECT way_id, 3 AS pass, area_id FROM pass3
        |ORDER BY pass, way_id, area_id""".stripMargin
    }) { (s, d) =>
    val areas = SkiFeatures.areas(s, d)
      .select(col("area_id"), col("act"), col("lon").as("alon"),
        col("lat").as("alat"))
      .withColumn("ring", array(SkiFeatures.hexRing(col("area_id"),
        col("alon"), col("alat"), 0.004).map { case (x, y) => array(x, y) }: _*))
      .localCheckpoint()
    val rc = SkiQueries.formatted(s, d).filter(col("kept"))
      .select(col("way_id"), col("uses"),
        (pmod(col("way_id"), lit(8)) === 3).as("in_site"),
        lineLengthM(col("coords")).as("len_m"), col("coords"),
        element_at(element_at(col("coords"), 1), 1).as("lon"),
        element_at(element_at(col("coords"), 1), 2).as("lat"))
      .localCheckpoint()

    // pass 1: polygon containment with both removal rules
    val covered = Clustering.coveredBy(
      areas.select("area_id", "ring", "alon", "alat"), rc, CellDeg, 1)
    val survive = Clustering.siteOverlapSurvivors(covered)
    val pass1 = covered.join(survive, "area_id")
      .groupBy("way_id").agg(min("area_id").as("area_id"))
      .localCheckpoint()

    // pass 2: proximity closure over the unassigned remainder
    val rc2 = rc.join(pass1.select("way_id"), Seq("way_id"), "left_anti")
      .localCheckpoint()
    val pass2 = Clustering.transitiveAssign(
      areas.select(col("area_id"), col("act"),
        col("alon").as("lon"), col("alat").as("lat")),
      rc2.select(col("way_id").as("okey"), col("uses"), col("lon"), col("lat")),
      RadiusM, CellDeg)
      .select(col("okey").as("way_id"), col("area_id"))
      .localCheckpoint()

    // pass 3: generated areas from what is still unassigned
    val rc3 = rc2.join(pass2.select("way_id"), Seq("way_id"), "left_anti")
    val runNodes = rc3
      .select(col("way_id").as("oid"),
        explode(array_intersect(col("uses"),
          array(lit("downhill"), lit("nordic")))).as("act"),
        col("lon"), col("lat"))
      .withColumn("is_lift", lit(false))
    val pass3 = Clustering.generateSkiAreas(
      runNodes.unionByName(SkiFeatures.liftNodes(s, d)), RadiusM, CellDeg)
      .filter(!col("is_lift"))
      .select(col("oid").as("way_id"), col("area_id"))
      .distinct()

    pass1.withColumn("pass", lit(1))
      .unionByName(pass2.withColumn("pass", lit(2)))
      .unionByName(pass3.withColumn("pass", lit(3)))
      .select(col("way_id"), col("pass"), col("area_id"))
      .orderBy("pass", "way_id", "area_id")
  }

  val specs: Seq[QuerySpec] = Seq(qPriority)
}
