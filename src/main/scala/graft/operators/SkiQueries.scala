package graft.operators

import graft.QuerySpec
import graft.functions.GeoFunctions
import graft.functions.GeoFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import SkiFeatures.{CellDeg, RadiusM}

/** Ski-domain operator queries (SURVEY §2): run formatting P1/P7-P10,
  * geodesic length G1, grid-cell distance join J1, VIIRS pixel
  * assignment E5, statistics A1 — all running over features
  * synthesized from the driver tables (see [[SkiFeatures]]) so every
  * operator is exercised at every scale factor with a DuckDB oracle
  * that re-derives the semantics independently from the flat columns.
  */
object SkiQueries {

  // Shared oracle prelude: synthesized features, formatted (fmt).
  // Mirrors SkiFeatures' synthesis + Formatters.formatRuns semantics
  // (Status.ts cascade, grooming/gladed/oneway priority chains,
  // key-sorted name collection with ref-prefix strip).
  private[operators] val oraclePrelude: String = {
    import SkiFeatures.sql._
    val validUses = SkiFeatures.ValidUses.map(u => s"'$u'").mkString(", ")
    s"""f AS (
      |  SELECT $wayId AS way_id, $lifecycle AS lifecycle,
      |    $usesRaw AS uses_raw, $diffIdx AS diff_idx, $groomIdx AS groom_idx,
      |    $taxPct AS tax_pct, l_suppkey % 5 AS ow5, l_suppkey % 3 AS ow3,
      |    l_suppkey % 7 AS sup7, l_partkey % 3 AS pk3,
      |    CAST(floor(l_quantity) AS BIGINT) % 4 AS qk4,
      |    l_orderkey % 11 AS ok11, l_orderkey % 13 AS ok13,
      |    l_partkey % 4 AS pk4, l_partkey % 5 AS pk5, l_partkey % 7 AS pk7,
      |    l_partkey % 50 AS refnum,
      |    p_name, p_brand, l_quantity,
      |    $lon0 AS lon0, $lat0 AS lat0, $dx AS dx, $dy AS dy, $z0 AS z0
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |fmt AS (
      |  SELECT way_id,
      |    CASE WHEN lifecycle = 0 THEN 'abandoned'
      |         WHEN lifecycle = 1 THEN 'proposed'
      |         WHEN lifecycle = 2 THEN 'disused'
      |         ELSE 'operating' END AS status,
      |    list_filter(list_transform(string_split(uses_raw, ';'),
      |      u -> lower(trim(u))), u -> u IN ($validUses)) AS uses,
      |    CASE diff_idx WHEN 0 THEN 'novice' WHEN 1 THEN 'easy'
      |         WHEN 2 THEN 'intermediate' WHEN 3 THEN 'advanced'
      |         WHEN 4 THEN 'expert' WHEN 5 THEN 'freeride'
      |         WHEN 6 THEN 'extreme' END AS difficulty,
      |    CASE WHEN groom_idx = 0 THEN 'classic'
      |         WHEN groom_idx = 1 THEN 'classic+skating'
      |         WHEN diff_idx IN (4, 5, 6) THEN 'backcountry'
      |         WHEN groom_idx = 3 THEN 'backcountry' END AS grooming,
      |    CASE WHEN tax_pct = 1 THEN false
      |         WHEN tax_pct >= 5 AND tax_pct < 7 THEN true
      |         WHEN tax_pct >= 7 AND tax_pct < 8 THEN false
      |         WHEN tax_pct >= 8 THEN true
      |         WHEN tax_pct = 4 THEN true END AS gladed,
      |    CASE WHEN ow5 = 0 THEN true WHEN ow5 = 1 THEN false
      |         WHEN ow3 = 0 THEN true WHEN ow3 = 1 THEN false
      |         WHEN list_contains(list_filter(list_transform(string_split(uses_raw, ';'),
      |           u -> lower(trim(u))), u -> u IN ($validUses)), 'downhill')
      |           THEN true END AS oneway,
      |    CASE WHEN sup7 = 0 THEN true WHEN sup7 IN (1, 2) THEN false END AS patrolled,
      |    CASE WHEN pk3 = 0 THEN true WHEN pk3 = 1 THEN false END AS snowmaking,
      |    CASE WHEN qk4 = 0 THEN true WHEN qk4 = 1 THEN false END AS snowfarming,
      |    CASE WHEN ok11 IN (0, 1) THEN true END AS tunnel,
      |    CASE WHEN ok13 = 0 THEN true WHEN ok13 = 1 THEN false END AS lit,
      |    CASE WHEN pk4 = 0 THEN p_name
      |         ELSE p_name || ', ' || p_brand END AS name,
      |    'R' || CAST(refnum AS VARCHAR) AS ref,
      |    CASE WHEN pk5 = 0 THEN 'https://example.com/' || CAST(way_id AS VARCHAR) END AS website,
      |    CASE WHEN pk7 = 0 THEN 'Q' || CAST(way_id AS VARCHAR) END AS wikidata_id,
      |    l_quantity, lon0, lat0, dx, dy, z0
      |  FROM f WHERE lifecycle <> 3),
      |kept AS (
      |  SELECT * FROM fmt WHERE status = 'operating' AND len(uses) > 0)""".stripMargin
  }

  /** Formatted runs, the frame every run query reads: one
    * [[graft.Scaffold]] artifact per dataset, so the formatter kernels
    * run once instead of in each query plan.
    */
  private[operators] def formatted(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    graft.Scaffold.table(s, "ski-format-runs", SkiFeatures.scaffoldKey(s, d)) {
      Formatters.formatRuns(SkiFeatures.synthesize(s, d))
    }

  // ---- P1/P7-P12: full run formatting ------------------------------------
  private val qFormat = QuerySpec.of(
    "q_ski_format_runs",
    s"""WITH $oraclePrelude
      |SELECT way_id, status, array_to_string(uses, ';') AS uses,
      |  difficulty, grooming, gladed, oneway, patrolled, snowmaking,
      |  snowfarming, tunnel, lit, name, ref, website, wikidata_id,
      |  ${Formatters.sql.runId} AS id,
      |  (status = 'operating' AND len(uses) > 0) AS kept
      |FROM fmt ORDER BY way_id""".stripMargin) { (s, d) =>
    formatted(s, d)
      .select(col("way_id"), col("status"),
        concat_ws(";", col("uses")).as("uses"),
        col("difficulty"), col("grooming"), col("gladed"), col("oneway"),
        col("patrolled"), col("snowmaking"), col("snowfarming"),
        col("tunnel"), col("lit"), col("name"), col("ref"),
        col("website"), col("wikidata_id"), col("id"), col("kept"))
      .orderBy("way_id")
  }

  // ---- G1/G5: geodesic length + profile sampling per difficulty ----------
  private[operators] val lenSql = GeoFunctions.sqlHaversineM("lon0", "lat0",
    "(lon0 + dx)", "(lat0 + dy)") +
    " + " + GeoFunctions.sqlHaversineM("(lon0 + dx)", "(lat0 + dy)",
    "(lon0 + dx * 2)", "(lat0 + dy)")

  private val qLength = QuerySpec.of(
    "q_ski_run_length",
    s"""WITH $oraclePrelude,
      |r AS (SELECT coalesce(difficulty, 'other') AS difficulty,
      |  ($lenSql) AS len_m FROM kept)
      |SELECT difficulty, count(*) AS n_runs,
      |  (floor((sum(len_m) / 1000.0) * 1e4 + 0.5) / 1e4) AS total_km,
      |  CAST(sum(greatest(CAST(2 AS BIGINT), CAST(floor(len_m / 25.0) + 2 AS BIGINT))) AS BIGINT) AS profile_points
      |FROM r GROUP BY difficulty ORDER BY difficulty""".stripMargin,
    headline = true) { (s, d) =>
    formatted(s, d).filter(col("kept"))
      .select(coalesce(col("difficulty"), lit("other")).as("difficulty"),
        lineLengthM(col("coords")).as("len_m"))
      .groupBy("difficulty")
      .agg(count(lit(1)).as("n_runs"),
        (floor((sum("len_m") / 1000.0) * 1e4 + 0.5) / 1e4).as("total_km"),
        sum(profilePointCount(col("len_m"), 25.0)).as("profile_points"))
      .orderBy("difficulty")
  }

  // ---- A1: per-activity × difficulty statistics --------------------------
  private val qStats = QuerySpec.of(
    "q_ski_statistics",
    s"""WITH $oraclePrelude,
      |r AS (SELECT u.activity, coalesce(difficulty, 'other') AS difficulty,
      |    ($lenSql) AS len_m, z0, (z0 + l_quantity * 2) AS z2
      |  FROM kept, unnest(uses) AS u(activity))
      |SELECT activity, difficulty, count(*) AS n_runs,
      |  (floor((sum(len_m) / 1000.0) * 1e4 + 0.5) / 1e4) AS total_km,
      |  (floor((min(z0)) * 1e1 + 0.5) / 1e1) AS min_elev,
      |  (floor((max(z2)) * 1e1 + 0.5) / 1e1) AS max_elev,
      |  (floor((sum(z2 - z0)) * 1e2 + 0.5) / 1e2) AS vertical_m
      |FROM r GROUP BY activity, difficulty
      |ORDER BY activity, difficulty""".stripMargin,
    headline = true) { (s, d) =>
    formatted(s, d).filter(col("kept"))
      .select(explode(col("uses")).as("activity"),
        coalesce(col("difficulty"), lit("other")).as("difficulty"),
        lineLengthM(col("coords")).as("len_m"),
        element_at(element_at(col("coords"), 1), 3).as("z0"),
        element_at(element_at(col("coords"), 3), 3).as("z2"))
      .groupBy("activity", "difficulty")
      .agg(count(lit(1)).as("n_runs"),
        (floor((sum("len_m") / 1000.0) * 1e4 + 0.5) / 1e4).as("total_km"),
        (floor((min("z0")) * 1e1 + 0.5) / 1e1).as("min_elev"),
        (floor((max("z2")) * 1e1 + 0.5) / 1e1).as("max_elev"),
        (floor((sum(col("z2") - col("z0"))) * 1e2 + 0.5) / 1e2).as("vertical_m"))
      .orderBy("activity", "difficulty")
  }

  // ---- J1: grid-cell distance join (500 m radius) ------------------------
  /** Anchors (area_id, alon, alat, …) × points (`lon`, `lat`, …)
    * within [[RadiusM]]: the grid join the area-assignment queries
    * share.
    */
  private[operators] def nearAreas(areas: DataFrame, pts: DataFrame,
      lon: String = "lon", lat: String = "lat"): DataFrame =
    GridJoin(areas, pts, (col("alon"), col("alat")), (col(lon), col(lat)),
      CellDeg, GridJoin.Within(RadiusM))

  /** Each point `key` within [[RadiusM]] of an anchor → the min such
    * area_id: the area assignment of the statistics queries.
    */
  private[graft] def nearestArea(areas: DataFrame, pts: DataFrame,
      key: String, lon: String = "lon", lat: String = "lat"): DataFrame =
    nearAreas(areas, pts.select(key, lon, lat), lon, lat)
      .groupBy(key).agg(min("area_id").as("area_id"))

  private val qGridJoin = QuerySpec.of(
    "q_ski_grid_join",
    s"""WITH $oraclePrelude,
      |areas AS (${SkiFeatures.sql.areas()}),
      |acells AS (
      |  ${GridJoin.sqlWalk("area_id, alon, alat", "alon", "alat", "areas",
            CellDeg, GridJoin.Within(RadiusM))}),
      |rcells AS (
      |  SELECT way_id, lon0, lat0,
      |    CAST(floor(lon0 / $CellDeg) AS BIGINT) AS cx,
      |    CAST(floor(lat0 / $CellDeg) AS BIGINT) AS cy
      |  FROM kept)
      |SELECT area_id, count(*) AS n_runs
      |FROM acells a JOIN rcells r ON a.cx = r.cx AND a.cy = r.cy
      |WHERE ${GeoFunctions.sqlHaversineM("a.alon", "a.alat", "r.lon0", "r.lat0")} <= $RadiusM
      |GROUP BY area_id ORDER BY area_id""".stripMargin,
    headline = true) { (s, d) =>
    val areas = SkiFeatures.areas(s, d)
      .select(col("area_id"), col("lon").as("alon"), col("lat").as("alat"))
    val runs = formatted(s, d).filter(col("kept"))
      .select(col("way_id"),
        element_at(element_at(col("coords"), 1), 1).as("lon"),
        element_at(element_at(col("coords"), 1), 2).as("lat"))
    nearAreas(areas, runs)
      .groupBy("area_id")
      .agg(count(lit(1)).as("n_runs"))
      .orderBy("area_id")
  }

  // ---- spatial kNN: nearest runs per anchor ------------------------------
  // Per-anchor k-nearest-neighbor search bounded by the same 500 m
  // grid (a kNN without a radius bound is a global problem; bounding
  // by the join radius keeps it a per-cell one — the standard
  // production compromise). Candidates come from the shared grid
  // join; the top-3 per anchor ranks on the rounded
  // metre distance with way_id tiebreak, so the hash compare is
  // stable. Anchors with fewer than 3 runs in range report what they
  // have; anchors with none don't appear (same contract as the grid
  // join).
  private val KnnPerAnchor = 3

  private val qSkiKnn = QuerySpec.of(
    "q_ski_knn", {
      val hav = GeoFunctions.sqlHaversineM("a.alon", "a.alat",
        "r.lon0", "r.lat0")
      s"""WITH $oraclePrelude,
        |areas AS (${SkiFeatures.sql.areas()}),
        |acells AS (
        |  ${GridJoin.sqlWalk("area_id, alon, alat", "alon", "alat", "areas",
              CellDeg, GridJoin.Within(RadiusM))}),
        |rcells AS (
        |  SELECT way_id, lon0, lat0,
        |    CAST(floor(lon0 / $CellDeg) AS BIGINT) AS cx,
        |    CAST(floor(lat0 / $CellDeg) AS BIGINT) AS cy
        |  FROM kept),
        |pairs AS (
        |  SELECT area_id, way_id, (floor(($hav) * 1e3 + 0.5) / 1e3) AS dist_m
        |  FROM acells a JOIN rcells r ON a.cx = r.cx AND a.cy = r.cy
        |  WHERE $hav <= $RadiusM),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY area_id
        |    ORDER BY dist_m, way_id) AS rk FROM pairs)
        |SELECT area_id, rk, way_id, dist_m
        |FROM ranked WHERE rk <= $KnnPerAnchor
        |ORDER BY area_id, rk""".stripMargin
    }) { (s, d) =>
    val areas = SkiFeatures.areas(s, d)
      .select(col("area_id"), col("lon").as("alon"), col("lat").as("alat"))
    val runs = formatted(s, d).filter(col("kept"))
      .select(col("way_id"),
        element_at(element_at(col("coords"), 1), 1).as("lon"),
        element_at(element_at(col("coords"), 1), 2).as("lat"))
    val w = Window.partitionBy("area_id").orderBy("dist_m", "way_id")
    nearAreas(areas, runs)
      .select(col("area_id"), col("way_id"),
        (floor((GeoFunctions.haversineM(col("alon"), col("alat"),
          col("lon"), col("lat"))) * 1e3 + 0.5) / 1e3).as("dist_m"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KnnPerAnchor)
      .select("area_id", "rk", "way_id", "dist_m")
      .orderBy("area_id", "rk")
  }

  // ---- J3: distance-to-GEOMETRY join -------------------------------------
  // The reference's "intersects" search is ST_DWithin against the full
  // geometry (`database/PostgreSQLClusteringDatabase.ts:688-693`) —
  // distance to the run LINE, not to a representative vertex. Candidates
  // come from the grid join of each anchor's 500 m walk against the
  // run-vertex cells (at this geometry scale a run within 500 m of an
  // anchor has a vertex in the walk); the refine snaps the anchor onto
  // the line (G3) and checks the snapped distance.
  private val qLineJoin = QuerySpec.of(
    "q_ski_line_distance_join", {
      val hav = GeoFunctions.sqlHaversineM("alon", "alat", "snap_lon", "snap_lat")
      s"""WITH $oraclePrelude,
        |areas AS (${SkiFeatures.sql.areas()}),
        |acells AS (
        |  ${GridJoin.sqlWalk("area_id, alon, alat", "alon", "alat", "areas",
              CellDeg, GridJoin.Within(RadiusM))}),
        |rverts AS (
        |  SELECT DISTINCT way_id,
        |    CAST(floor((CASE v WHEN 0 THEN lon0 WHEN 1 THEN lon0 + dx
        |      ELSE lon0 + dx * 2 END) / $CellDeg) AS BIGINT) AS cx,
        |    CAST(floor((CASE v WHEN 0 THEN lat0 ELSE lat0 + dy END)
        |      / $CellDeg) AS BIGINT) AS cy
        |  FROM kept, unnest([0, 1, 2]) AS uv(v)),
        |cand AS (
        |  SELECT DISTINCT a.area_id, a.alon, a.alat, r.way_id
        |  FROM acells a JOIN rverts r ON a.cx = r.cx AND a.cy = r.cy),
        |seg AS (
        |  SELECT c.area_id, c.alon, c.alat, c.way_id, sg.k,
        |    CASE WHEN sg.k = 1 THEN f.lon0 ELSE f.lon0 + f.dx END AS x1,
        |    CASE WHEN sg.k = 1 THEN f.lat0 ELSE f.lat0 + f.dy END AS y1,
        |    CASE WHEN sg.k = 1 THEN f.lon0 + f.dx ELSE f.lon0 + f.dx * 2 END AS x2,
        |    CASE WHEN sg.k = 1 THEN f.lat0 + f.dy ELSE f.lat0 + f.dy END AS y2
        |  FROM cand c JOIN kept f ON c.way_id = f.way_id,
        |  unnest([1, 2]) AS sg(k)),
        |proj0 AS (SELECT *, cos(radians(alat)) AS kx FROM seg),
        |${GeoFunctions.sqlSnapCtes("proj0", "alon", "alat")},
        |proj5 AS (SELECT area_id, way_id, ($hav) AS dist_m FROM proj4),
        |best AS (
        |  SELECT area_id, way_id, min(dist_m) AS dist_m
        |  FROM proj5 GROUP BY 1, 2)
        |SELECT area_id, count(*) AS n_runs,
        |  (floor((min(dist_m)) * 1e2 + 0.5) / 1e2) AS min_dist_m
        |FROM best WHERE dist_m <= $RadiusM
        |GROUP BY area_id ORDER BY area_id""".stripMargin
    }) { (s, d) =>
    val areas = SkiFeatures.areas(s, d)
      .select(col("area_id"), col("lon").as("alon"), col("lat").as("alat"))
    val rverts = formatted(s, d).filter(col("kept"))
      .select(col("way_id"), col("coords"), explode(col("coords")).as("v"))
    val cand = GridJoin(areas, rverts, (col("alon"), col("alat")),
        (element_at(col("v"), 1), element_at(col("v"), 2)), CellDeg,
        GridJoin.Within(RadiusM, refine = false),
        distinctRight = Seq("way_id"))
      .dropDuplicates("area_id", "way_id")
    cand
      .withColumn("np", GeoFunctions.nearestPointOnLine(
        col("alon"), col("alat"), col("coords")))
      .select(col("area_id"), col("way_id"), col("np.dist_m").as("dist_m"))
      .filter(col("dist_m") <= RadiusM)
      .groupBy("area_id")
      .agg(count(lit(1)).as("n_runs"),
        (floor((min("dist_m")) * 1e2 + 0.5) / 1e2).as("min_dist_m"))
      .orderBy("area_id")
  }

  // ---- E5: VIIRS sinusoidal pixel assignment -----------------------------
  private val qViirs = QuerySpec.of(
    "q_ski_viirs_pixels", {
      val T = s"CAST(${GeoFunctions.ViirsTileSizeM} AS DOUBLE)"
      val R = GeoFunctions.ViirsRadiusM
      val x = s"($R * radians((p).lon) * cos(radians((p).lat)))"
      val y = s"($R * radians((p).lat))"
      val gx = s"($x + 18.0 * $T)"
      val gy = s"(9.0 * $T - $y)"
      s"""WITH $oraclePrelude,
        |pts AS (
        |  SELECT way_id, p FROM kept,
        |    unnest([{'lon': lon0, 'lat': lat0},
        |            {'lon': lon0 + dx, 'lat': lat0 + dy},
        |            {'lon': lon0 + dx * 2, 'lat': lat0 + dy}]) AS u(p)),
        |px AS (
        |  SELECT CAST(floor($gx / $T) AS INT) AS h,
        |    CAST(floor($gy / $T) AS INT) AS v,
        |    CAST(floor(($gx - floor($gx / $T) * $T) / ($T / 3000.0)) AS INT) AS px,
        |    CAST(floor(($gy - floor($gy / $T) * $T) / ($T / 3000.0)) AS INT) AS py
        |  FROM pts)
        |SELECT h, v, count(DISTINCT (px, py)) AS n_pixels, count(*) AS n_points
        |FROM px GROUP BY h, v ORDER BY h, v""".stripMargin
    }) { (s, d) =>
    formatted(s, d).filter(col("kept"))
      .select(explode(col("coords")).as("pt"))
      .select(viirsPixel(element_at(col("pt"), 1), element_at(col("pt"), 2))
        .as("p"))
      .select(col("p.h"), col("p.v"), col("p.px"), col("p.py"))
      .groupBy("h", "v")
      .agg(countDistinct(col("px"), col("py")).as("n_pixels"),
        count(lit(1)).as("n_points"))
      .orderBy("h", "v")
  }

  // ---- N1-N3: run topology normalization ---------------------------------
  // Input: kept runs plus full-geometry duplicates for every way with
  // way_id % 10 = 4. The oracle counts distinct quantized 2D geometries
  // — exactly what arc-merge collapses here, because the synthesis
  // guarantees overlaps are only ever whole-geometry (see SkiFeatures) —
  // AND checksums the output geometries (orientation-canonical 60-bit
  // hash per distinct geometry, summed mod 1e12), so the merged POINT
  // SEQUENCES are verified, not just the row count.
  /** q_ski_normalize's input frame: kept runs + whole-geometry
    * duplicates for every way with way_id % 10 = 4. 3D coords pass
    * straight through — normalization quantizes on the first two
    * elements of each point, so no interpreted 2D-projection
    * transform is needed here. (Shared with graft.Profile's
    * `normalize.*` phases.)
    */
  private[graft] def normalizeInput(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val kept = formatted(s, d).filter(col("kept"))
      .select(col("way_id").as("run_id"),
        coalesce(col("difficulty"), lit("other")).as("props"),
        col("coords"))
    kept.unionByName(
      kept.filter(pmod(col("run_id"), lit(10)) === 4)
        .withColumn("run_id", col("run_id") + 1000000000L))
  }

  /** The oracles' kept-run geometry on the 1e-7° grid: select items
    * x0, y0, x1, y1, x2 over `kept` (the third vertex shares y1).
    */
  private[operators] val keptGridSql: String = {
    val q = Normalization.sqlQuantized _
    s"""${q("lon0")} AS x0,
      |    ${q("lat0")} AS y0,
      |    ${q("(lon0 + dx)")} AS x1,
      |    ${q("(lat0 + dy)")} AS y1,
      |    ${q("(lon0 + dx * 2)")} AS x2""".stripMargin
  }

  private val qNormalize = QuerySpec.of(
    "q_ski_normalize", {
      val h = graft.functions.HashFunctions.sqlHash64(
        "least(gs, grev)")
      s"""WITH $oraclePrelude,
        |dup AS (SELECT DISTINCT $keptGridSql FROM kept),
        |n AS (
        |  SELECT count(*) AS n_in FROM (
        |    SELECT 1 FROM kept
        |    UNION ALL
        |    SELECT 1 FROM kept WHERE way_id % 10 = 4)),
        |r AS (
        |  SELECT
        |    (CAST(x0 AS VARCHAR) || '_' || CAST(y0 AS VARCHAR) || ';' ||
        |     CAST(x1 AS VARCHAR) || '_' || CAST(y1 AS VARCHAR) || ';' ||
        |     CAST(x2 AS VARCHAR) || '_' || CAST(y1 AS VARCHAR)) AS gs,
        |    (CAST(x2 AS VARCHAR) || '_' || CAST(y1 AS VARCHAR) || ';' ||
        |     CAST(x1 AS VARCHAR) || '_' || CAST(y1 AS VARCHAR) || ';' ||
        |     CAST(x0 AS VARCHAR) || '_' || CAST(y0 AS VARCHAR)) AS grev
        |  FROM dup)
        |SELECT (SELECT n_in FROM n) AS n_in, count(*) AS n_out,
        |  CAST(sum($h % 1000000000000) AS BIGINT) AS geom_checksum
        |FROM r""".stripMargin
    },
    headline = true) { (s, d) =>
    val dup = normalizeInput(s, d)
    val q = Normalization.quantized _
    val rendered = Normalization.normalizeRuns(dup)
      .withColumn("qs", transform(col("coords"), p =>
        concat(q(element_at(p, 1)), lit("_"), q(element_at(p, 2)))))
      .withColumn("gs", array_join(col("qs"), ";"))
      .withColumn("grev", array_join(reverse(col("qs")), ";"))
      .select(graft.functions.HashFunctions
        .hash64(least(col("gs"), col("grev"))).as("h"))
    // n_in as a plan-side aggregate (cross join of two 1-row aggs), not
    // a driver-side count() — the query is ONE job.
    dup.agg(count(lit(1)).as("n_in"))
      .crossJoin(rendered.agg(
        count(lit(1)).as("n_out"),
        sum(pmod(col("h"), lit(1000000000000L))).as("geom_checksum")))
  }

  // ---- N4: field-wise property merge lattice over partial overlaps ------
  /** q_ski_normalize_props' input (and q_pipeline_e2e's): kept runs
    * with their props struct, plus for every way with way_id % 10 = 4
    * a PARTIAL-overlap duplicate covering only its middle edge [p1,p2],
    * with deliberately conflicting props (novice difficulty,
    * oneway=false, patrolled=true, name 'ZDUP', uses ['skitour'],
    * wikidata 'Q1').
    */
  private[graft] def normalizePropsInput(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val fk = formatted(s, d).filter(col("kept"))
    val propsCol = struct(
      col("uses"), col("name"), col("ref"), col("difficulty"),
      col("grooming"), col("status"), col("oneway"), col("gladed"),
      col("patrolled"), col("snowmaking"), col("snowfarming"),
      col("tunnel"), col("lit"), col("wikidata_id"))
    val base = fk.select(col("way_id").as("run_id"), propsCol.as("props"),
      col("coords"))
    val dupProps = struct(
      array(lit("skitour")).as("uses"), lit("ZDUP").as("name"),
      lit(null).cast("string").as("ref"), lit("novice").as("difficulty"),
      lit(null).cast("string").as("grooming"), lit("operating").as("status"),
      lit(false).as("oneway"), lit(null).cast("boolean").as("gladed"),
      lit(true).as("patrolled"), lit(null).cast("boolean").as("snowmaking"),
      lit(null).cast("boolean").as("snowfarming"),
      lit(null).cast("boolean").as("tunnel"),
      lit(null).cast("boolean").as("lit"), lit("Q1").as("wikidata_id"))
    val overlap = fk.filter(pmod(col("way_id"), lit(10)) === 4)
      .select((col("way_id") + 1000000000L).as("run_id"),
        dupProps.as("props"), slice(col("coords"), 2, 2).as("coords"))
    base.unionByName(overlap)
  }

  // The run re-segments into [p0,p1] (own props) + [p1,p2]
  // (lattice-merged props); the two segments have different merged
  // props, so chain-merge must NOT re-join them. The oracle groups kept
  // runs by full quantized geometry (way_id collisions merge too) and
  // replays the RunJoining.ts reducers per segment field-by-field.
  private val qNormalizeProps = QuerySpec.of(
    "q_ski_normalize_props",
    s"""WITH $oraclePrelude,
      |g AS (
      |  SELECT $keptGridSql,
      |    way_id, uses, difficulty, grooming, oneway, gladed, patrolled,
      |    snowmaking, snowfarming, tunnel, lit, name, ref, wikidata_id
      |  FROM kept),
      |grp AS (
      |  SELECT x0, y0, x1, y1, x2,
      |    bool_or(way_id % 10 = 4) AS has_dup,
      |    list_sort(list_distinct(flatten(list(uses)))) AS m_uses,
      |    list_distinct(list(name)) AS m_names,
      |    list_distinct(list(ref)) AS m_refs,
      |    min(CASE difficulty WHEN 'novice' THEN 1 WHEN 'easy' THEN 2
      |      WHEN 'intermediate' THEN 3 WHEN 'advanced' THEN 4
      |      WHEN 'expert' THEN 5 WHEN 'freeride' THEN 6
      |      WHEN 'extreme' THEN 7 ELSE 8 END) AS dmin,
      |    min(CASE grooming WHEN 'classic+skating' THEN 1 WHEN 'skating' THEN 2
      |      WHEN 'classic' THEN 3 WHEN 'mogul' THEN 4 WHEN 'scooter' THEN 5
      |      WHEN 'backcountry' THEN 6 ELSE 7 END) AS gmin,
      |    bool_and(oneway) AS m_oneway, bool_or(gladed) AS m_gladed,
      |    bool_or(patrolled) AS m_patrolled, bool_or(snowmaking) AS m_snowmaking,
      |    bool_or(snowfarming) AS m_snowfarming, bool_or(tunnel) AS m_tunnel,
      |    bool_or(lit) AS m_lit, min(wikidata_id) AS m_wikidata
      |  FROM g GROUP BY 1, 2, 3, 4, 5),
      |segs AS (
      |  SELECT x0, y0, CASE WHEN has_dup THEN x1 ELSE x2 END AS xn,
      |    y1 AS yn, CASE WHEN has_dup THEN 2 ELSE 3 END AS npts,
      |    m_uses AS uses, m_names AS names, m_refs AS refs, dmin, gmin,
      |    m_oneway AS oneway, m_gladed AS gladed, m_patrolled AS patrolled,
      |    m_snowmaking AS snowmaking, m_snowfarming AS snowfarming,
      |    m_tunnel AS tunnel, m_lit AS lit, m_wikidata AS wikidata_id
      |  FROM grp
      |  UNION ALL
      |  SELECT x1, y1, x2, y1, 2,
      |    list_sort(list_distinct(m_uses || ['skitour'])),
      |    m_names || ['ZDUP'], m_refs, 1 AS dmin, gmin,
      |    false AS oneway, m_gladed, true AS patrolled,
      |    m_snowmaking, m_snowfarming, m_tunnel, m_lit, 'Q1' AS wikidata_id
      |  FROM grp WHERE has_dup)
      |SELECT x0, y0, xn, yn, npts,
      |  array_to_string(uses, ';') AS uses,
      |  array_to_string(list_sort(list_distinct(names)), ', ') AS name,
      |  array_to_string(list_sort(list_distinct(refs)), ', ') AS ref,
      |  CASE dmin WHEN 1 THEN 'novice' WHEN 2 THEN 'easy'
      |    WHEN 3 THEN 'intermediate' WHEN 4 THEN 'advanced'
      |    WHEN 5 THEN 'expert' WHEN 6 THEN 'freeride'
      |    WHEN 7 THEN 'extreme' END AS difficulty,
      |  CASE gmin WHEN 1 THEN 'classic+skating' WHEN 2 THEN 'skating'
      |    WHEN 3 THEN 'classic' WHEN 4 THEN 'mogul' WHEN 5 THEN 'scooter'
      |    WHEN 6 THEN 'backcountry' END AS grooming,
      |  'operating' AS status, oneway, gladed, patrolled, snowmaking,
      |  snowfarming, tunnel, lit, wikidata_id
      |FROM segs
      |ORDER BY x0, y0, xn, yn, npts""".stripMargin) { (s, d) =>
    val q = Normalization.quantized _
    Normalization
      .normalizeRuns(normalizePropsInput(s, d), Normalization.RunPropsLattice)
      .select(
        q(element_at(element_at(col("coords"), 1), 1)).as("x0"),
        q(element_at(element_at(col("coords"), 1), 2)).as("y0"),
        q(element_at(element_at(col("coords"), -1), 1)).as("xn"),
        q(element_at(element_at(col("coords"), -1), 2)).as("yn"),
        size(col("coords")).as("npts"),
        concat_ws(";", col("props.uses")).as("uses"),
        col("props.name").as("name"), col("props.ref").as("ref"),
        col("props.difficulty").as("difficulty"),
        col("props.grooming").as("grooming"),
        col("props.status").as("status"),
        col("props.oneway").as("oneway"), col("props.gladed").as("gladed"),
        col("props.patrolled").as("patrolled"),
        col("props.snowmaking").as("snowmaking"),
        col("props.snowfarming").as("snowfarming"),
        col("props.tunnel").as("tunnel"), col("props.lit").as("lit"),
        col("props.wikidata_id").as("wikidata_id"))
      .orderBy("x0", "y0", "xn", "yn", "npts")
  }

  // ---- J2 + clustering step 2: polygon containment assignment ------------
  // OSM polygon ski areas (irregular convex hexagons around the order
  // anchors) take ownership of runs fully COVERED by the polygon
  // (`SkiAreaClusteringService.ts:353-361` + the ST_CoveredBy refine at
  // `database/PostgreSQLClusteringDatabase.ts:680-711`): grid-cell
  // prefilter → even-odd ray-cast refine on every run vertex. Areas
  // with no covered objects are removed (`removeIfNoObjectsFound`), and
  // areas whose members are >50%-by-length inside a site=piste relation
  // are removed (`removeIfSubstantialNumberOfObjectsInSkiAreaSite`,
  // `SkiAreaClusteringService.ts:684-700`; scenario
  // `ClusterSkiAreas.integration.test.ts:2456`).
  private val qPolygonAssign = QuerySpec.of(
    "q_ski_polygon_assign", {
      val lenSqlLocal = lenSql
      val (hexLon, hexLat) =
        SkiFeatures.sql.hexVertex("area_id", "alon", "alat", 0.012)
      s"""WITH $oraclePrelude,
        |areas AS (${SkiFeatures.sql.areas()}),
        |verts AS (
        |  SELECT area_id, alon, alat, k,
        |    $hexLon AS vx,
        |    $hexLat AS vy
        |  FROM areas, unnest([0, 1, 2, 3, 4, 5]) AS uk(k)),
        |edges AS (
        |  SELECT a.area_id, a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
        |  FROM verts a JOIN verts b
        |    ON a.area_id = b.area_id AND b.k = (a.k + 1) % 6),
        |acells AS (
        |  ${GridJoin.sqlWalk("area_id, alon, alat", "alon", "alat", "areas",
              CellDeg, GridJoin.Cells(2))}),
        |runs AS (
        |  SELECT DISTINCT way_id, (way_id % 8 = 3) AS in_site,
        |    ($lenSqlLocal) AS len_m, lon0, lat0, dx, dy,
        |    CAST(floor(lon0 / $CellDeg) AS BIGINT) AS cx,
        |    CAST(floor(lat0 / $CellDeg) AS BIGINT) AS cy
        |  FROM kept),
        |cand AS (
        |  SELECT a.area_id, r.way_id, r.in_site, r.len_m,
        |    r.lon0, r.lat0, r.dx, r.dy
        |  FROM acells a JOIN runs r ON a.cx = r.cx AND a.cy = r.cy),
        |pts AS (
        |  SELECT area_id, way_id, in_site, len_m, pidx,
        |    CASE pidx WHEN 0 THEN lon0 WHEN 1 THEN lon0 + dx ELSE lon0 + dx * 2 END AS px,
        |    CASE pidx WHEN 0 THEN lat0 ELSE lat0 + dy END AS py
        |  FROM cand, unnest([0, 1, 2]) AS up(pidx)),
        |inside AS (
        |  SELECT p.area_id, p.way_id, p.in_site, p.len_m, p.pidx
        |  FROM pts p JOIN edges e ON p.area_id = e.area_id
        |  WHERE ((e.y1 > p.py) <> (e.y2 > p.py))
        |    AND p.px < (e.x2 - e.x1) * (p.py - e.y1) / (e.y2 - e.y1) + e.x1
        |  GROUP BY 1, 2, 3, 4, 5 HAVING count(*) % 2 = 1),
        |covered AS (
        |  SELECT area_id, way_id, any_value(in_site) AS in_site,
        |    any_value(len_m) AS len_m
        |  FROM inside GROUP BY area_id, way_id HAVING count(*) = 3),
        |agg AS (
        |  SELECT area_id, count(*) AS n_runs,
        |    CAST(sum(CASE WHEN in_site THEN 1 ELSE 0 END) AS BIGINT) AS n_site,
        |    sum(len_m) AS total_m,
        |    sum(CASE WHEN in_site THEN len_m ELSE CAST(0 AS DOUBLE) END) AS site_m
        |  FROM covered GROUP BY area_id)
        |SELECT area_id, n_runs, n_site, (floor((total_m / 1000.0) * 1e4 + 0.5) / 1e4) AS total_km
        |FROM agg
        |WHERE NOT (total_m > 0 AND site_m / total_m > CAST(0.5 AS DOUBLE))
        |ORDER BY area_id""".stripMargin
    }) { (s, d) =>
    import graft.functions.GeoFunctions.pointInPolygon
    val areas = SkiFeatures.areas(s, d)
      .select(col("area_id"), col("lon").as("alon"), col("lat").as("alat"))
      .withColumn("ring", array(SkiFeatures.hexRing(col("area_id"),
        col("alon"), col("alat"), 0.012).map { case (x, y) => array(x, y) }: _*))
    // one row per way_id: the synthetic lineitem carries duplicate
    // (orderkey, linenumber) pairs, and a feature participates in
    // containment once (the 2D geometry, length and site flag are all
    // way_id-determined; only z varies across duplicates and the
    // ray-cast/length ignore it)
    val runs = formatted(s, d).filter(col("kept"))
      .select(col("way_id"),
        (pmod(col("way_id"), lit(8)) === 3).as("in_site"),
        lineLengthM(col("coords")).as("len_m"), col("coords"))
      .dropDuplicates("way_id")
    // ±2-cell prefilter: the hexagon radius (≤0.0192°) exceeds one
    // 0.01° cell, so a covered run's first vertex can sit two cells
    // from the anchor; ±2 cells (0.02°) strictly covers it.
    val covered = Clustering.coveredBy(areas, runs, CellDeg, reach = 2)
    covered.groupBy("area_id")
      .agg(count(lit(1)).as("n_runs"),
        sum(when(col("in_site"), 1L).otherwise(0L)).as("n_site"),
        sum(col("len_m")).as("total_m"),
        sum(when(col("in_site"), col("len_m")).otherwise(lit(0.0))).as("site_m"))
      .filter(!(col("total_m") > 0 && col("site_m") / col("total_m") > 0.5))
      .select(col("area_id"), col("n_runs"), col("n_site"),
        (floor((col("total_m") / 1000.0) * 1e4 + 0.5) / 1e4).as("total_km"))
      .orderBy("area_id")
  }

  // ---- Clustering step 6: generate ski areas for unassigned objects ------
  // The reference seeds a new ski area from each unassigned run and
  // BFS-claims compatible objects within 500 m
  // (`SkiAreaClusteringService.ts:903-1032`), then applies the
  // ≥1-lift rule: a downhill area with no lift member loses its
  // downhill activity (and members without another activity) —
  // scenario "does not generate ski area for lone downhill run
  // without lift" (`ClusterSkiAreas.integration.test.ts:186`).
  // Spark-first canonicalization (order-independent, documented):
  // per-activity connected components over the 500 m proximity graph —
  // one generated area per (activity, component) containing ≥1 run,
  // minus downhill components without a lift. Node ids encode the
  // activity (oid·2 + nordic), so ONE label-propagation handles both
  // activity graphs at once.
  private val qAreaGen = QuerySpec.of(
    "q_ski_area_gen", {
      val hav = GeoFunctions.sqlHaversineM("l.lon", "l.lat", "r.lon", "r.lat")
      s"""WITH RECURSIVE $oraclePrelude,
        |rn AS (
        |  SELECT way_id AS oid, u.act, lon0 AS lon, lat0 AS lat,
        |    false AS is_lift
        |  FROM kept, unnest(list_filter(uses,
        |    x -> x IN ('downhill', 'nordic'))) AS u(act)),
        |nodes AS (
        |  SELECT oid * 2 + CASE WHEN act = 'nordic' THEN 1 ELSE 0 END AS nid,
        |    act, lon, lat, is_lift
        |  FROM (SELECT * FROM rn UNION ALL ${SkiFeatures.sql.liftNodes})),
        |cells AS (
        |  SELECT nid, act, lon, lat,
        |    CAST(floor(lon / $CellDeg) AS BIGINT) AS cx,
        |    CAST(floor(lat / $CellDeg) AS BIGINT) AS cy
        |  FROM nodes),
        |lcells AS (
        |  ${GridJoin.sqlWalk("nid, act, lon, lat", "lon", "lat", "cells",
              CellDeg, GridJoin.Within(RadiusM), ("cx2", "cy2"))}),
        |pairs AS (
        |  SELECT l.nid AS a, r.nid AS b
        |  FROM lcells l JOIN cells r
        |    ON l.act = r.act AND l.cx2 = r.cx AND l.cy2 = r.cy
        |  WHERE l.nid < r.nid AND $hav <= $RadiusM),
        |bi AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT nid, nid AS label FROM nodes
        |  UNION
        |  SELECT bi.b AS nid, r.label FROM reach r
        |  JOIN bi ON bi.a = r.nid WHERE r.label < bi.b),
        |lab AS (SELECT nid, min(label) AS label FROM reach GROUP BY nid),
        |areas AS (
        |  SELECT n.act, l.label,
        |    count(CASE WHEN NOT n.is_lift THEN 1 END) AS n_runs,
        |    count(CASE WHEN n.is_lift THEN 1 END) AS n_lifts
        |  FROM nodes n JOIN lab l ON n.nid = l.nid
        |  GROUP BY 1, 2)
        |SELECT act AS activity, label // 2 AS area_oid, n_runs, n_lifts
        |FROM areas
        |WHERE n_runs > 0 AND NOT (act = 'downhill' AND n_lifts = 0)
        |ORDER BY activity, area_oid""".stripMargin
    }) { (s, d) =>
    val runNodes = formatted(s, d).filter(col("kept"))
      .select(col("way_id").as("oid"),
        explode(array_intersect(col("uses"),
          array(lit("downhill"), lit("nordic")))).as("act"),
        element_at(element_at(col("coords"), 1), 1).as("lon"),
        element_at(element_at(col("coords"), 1), 2).as("lat"))
      .withColumn("is_lift", lit(false))
    Clustering.generateSkiAreas(
        runNodes.unionByName(SkiFeatures.liftNodes(s, d)), RadiusM, CellDeg)
      .groupBy("act", "area_id")
      .agg(count(when(!col("is_lift"), 1)).as("n_runs"),
        count(when(col("is_lift"), 1)).as("n_lifts"))
      .select(col("act").as("activity"), col("area_id").as("area_oid"),
        col("n_runs"), col("n_lifts"))
      .orderBy("activity", "area_oid")
  }

  // ---- J10: transitive-closure clustering --------------------------------
  // Areas seed at order anchors with one activity; objects are kept
  // runs. Closure = chain of <=500 m hops between compatible objects;
  // multi-reached objects resolve to the min area id. The oracle is the
  // same closure as a DuckDB recursive CTE over the same grid cells.
  private val qCluster = QuerySpec.of(
    "q_ski_cluster", {
      val hav = GeoFunctions.sqlHaversineM _
      s"""WITH RECURSIVE $oraclePrelude,
        |areas AS (${SkiFeatures.sql.areas(withAct = true)}),
        |rc AS (
        |  SELECT way_id AS okey, uses, lon0 AS lon, lat0 AS lat,
        |    CAST(floor(lon0 / $CellDeg) AS BIGINT) AS cx,
        |    CAST(floor(lat0 / $CellDeg) AS BIGINT) AS cy
        |  FROM kept),
        |acell AS (
        |  ${GridJoin.sqlWalk("area_id, act, alon, alat", "alon", "alat",
              "areas", CellDeg, GridJoin.Within(RadiusM))}),
        |reach AS (
        |  SELECT a.area_id, a.act, o.okey, o.lon, o.lat, o.cx, o.cy
        |  FROM acell a JOIN rc o ON a.cx = o.cx AND a.cy = o.cy
        |  WHERE ${hav("a.alon", "a.alat", "o.lon", "o.lat")} <= $RadiusM
        |    AND list_contains(o.uses, a.act)
        |  UNION
        |  SELECT r.area_id, r.act, o.okey, o.lon, o.lat, o.cx, o.cy
        |  FROM reach r JOIN rc o
        |    ON ${GridJoin.sqlNear("r", "o", CellDeg, GridJoin.Within(RadiusM))}
        |  WHERE ${hav("r.lon", "r.lat", "o.lon", "o.lat")} <= $RadiusM
        |    AND list_contains(o.uses, r.act))
        |SELECT area_id, count(*) AS n_objects
        |FROM (SELECT okey, min(area_id) AS area_id FROM reach GROUP BY okey) t
        |GROUP BY area_id ORDER BY area_id""".stripMargin
    },
    headline = true) { (s, d) =>
    val areas = SkiFeatures.areas(s, d)
    val objs = formatted(s, d).filter(col("kept"))
      .select(col("way_id").as("okey"), col("uses"),
        element_at(element_at(col("coords"), 1), 1).as("lon"),
        element_at(element_at(col("coords"), 1), 2).as("lat"))
    Clustering.transitiveAssign(areas, objs, RadiusM, CellDeg)
      .groupBy("area_id")
      .agg(count(lit(1)).as("n_objects"))
      .orderBy("area_id")
  }

  // Shared DuckDB CTEs for the synthesized lift features → `lfmt`
  // (mirrors liftFeatures + Formatters.formatLifts).
  private[operators] val liftOracleCtes: String =
    """o AS (
      |  SELECT o_orderkey AS lift_id, o_orderkey % 5 AS lifecycle,
      |    o_custkey % 8 AS tidx, o_custkey % 13 AS ck13, o_custkey % 7 AS acc7,
      |    o_orderkey % 3 AS dfmt, o_orderkey % 12 AS mins, o_custkey % 60 AS secs,
      |    o_custkey % 8 + 1 AS occ, o_custkey % 60 + 4 AS cap,
      |    o_custkey % 2 AS bub, o_custkey % 3 AS heat,
      |    o_orderkey % 4 AS det, o_custkey % 5 AS ow,
      |    o_orderkey % 2 AS nm, o_custkey % 30 AS refn
      |  FROM orders),
      |lfmt AS (
      |  SELECT lift_id,
      |    CASE WHEN lifecycle = 0 THEN 'proposed'
      |         WHEN lifecycle = 1 THEN 'disused'
      |         ELSE 'operating' END AS status,
      |    CASE WHEN tidx = 0 THEN 'chair_lift' WHEN tidx = 1 THEN 'gondola'
      |         WHEN tidx = 2 THEN 'cable_car' WHEN tidx = 3 THEN 'drag_lift'
      |         WHEN tidx IN (5, 6) THEN 'railway'
      |         WHEN tidx = 7 THEN 'funicular' END AS lift_type,
      |    CASE WHEN dfmt = 0 THEN mins * 60 + secs
      |         WHEN dfmt = 1 THEN mins * 60 + 30 END AS duration_s,
      |    occ AS occupancy, cap AS capacity,
      |    (bub = 0) AS bubble,
      |    CASE WHEN heat = 0 THEN true WHEN heat = 1 THEN false END AS heating,
      |    CASE WHEN det = 0 THEN true WHEN det = 1 THEN false END AS detachable,
      |    CASE WHEN ow = 0 THEN true WHEN ow = 1 THEN false END AS oneway,
      |    CASE WHEN acc7 = 0 THEN 'private' END AS access,
      |    CASE WHEN nm = 0 THEN 'Apex' ELSE 'Apex Lift' END AS name,
      |    'L' || CAST(refn AS VARCHAR) AS ref
      |  FROM o WHERE ck13 > 7 AND tidx <> 4)""".stripMargin

  /** Formatted lift features: one [[graft.Scaffold]] artifact per
    * `orders` fingerprint, like [[formatted]].
    */
  private[operators] def formattedLifts(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Scaffold.table(s, "ski-format-lifts",
        graft.Tables.fingerprint(s, d, "orders")) {
      Formatters.formatLifts(liftFeatures(s, d))
    }

  /** Synthesized raw lift features (lift_id, tags). */
  private[graft] def liftFeatures(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val o = graft.Tables.orders(s, d)
    val lifecycle = pmod(col("o_orderkey"), lit(5))
    val tidx = pmod(col("o_custkey"), lit(8))
    val ck13 = pmod(col("o_custkey"), lit(13))
    val acc7 = pmod(col("o_custkey"), lit(7))
    val aerialVal = when(tidx === 0, "chair_lift").when(tidx === 1, "gondola")
      .when(tidx === 2, "cable_car").when(tidx === 3, "drag_lift")
      .when(tidx === 4, "junk")
    val railVal = when(tidx === 5, "narrow_gauge").when(tidx === 6, "tram")
      .when(tidx === 7, "funicular")
    val mins = pmod(col("o_orderkey"), lit(12))
    val secs = pmod(col("o_custkey"), lit(60))
    val dfmt = pmod(col("o_orderkey"), lit(3))
    val duration = when(dfmt === 0,
        concat(mins.cast("string"), lit(":"),
          lpad(secs.cast("string"), 2, "0")))
      .when(dfmt === 1, concat(mins.cast("string"), lit(".5")))
      .otherwise(lit("1:2:3"))
    val refn = pmod(col("o_custkey"), lit(30))
    val tags = map(
      lit("aerialway"), when(lifecycle >= 2, aerialVal),
      lit("proposed:aerialway"), when(lifecycle === 0, aerialVal),
      lit("disused:aerialway"), when(lifecycle === 1, aerialVal),
      lit("railway"), when(lifecycle >= 2, railVal),
      lit("proposed:railway"), when(lifecycle === 0, railVal),
      lit("disused:railway"), when(lifecycle === 1, railVal),
      lit("passenger"), when(ck13 === 0, "no"),
      lit("access"), when(ck13 === 1, "no").when(ck13 === 2, "forestry")
        .when(acc7 === 0, "private"),
      lit("foot"), when(ck13 === 3, "no").when(ck13 === 4, "private"),
      lit("usage"), when(ck13 === 5, "freight").when(ck13 === 6, "industrial"),
      lit("railway:traffic_mode"), when(ck13 === 7, "freight"),
      lit("aerialway:duration"), duration,
      lit("aerialway:occupancy"),
      (pmod(col("o_custkey"), lit(8)) + 1).cast("string"),
      lit("aerialway:capacity"),
      (pmod(col("o_custkey"), lit(60)) + 4).cast("string"),
      lit("aerialway:bubble"),
      when(pmod(col("o_custkey"), lit(2)) === 0, "yes").otherwise("no"),
      lit("aerialway:heating"),
      when(pmod(col("o_custkey"), lit(3)) === 0, "yes")
        .when(pmod(col("o_custkey"), lit(3)) === 1, "no"),
      lit("aerialway:detachable"),
      when(pmod(col("o_orderkey"), lit(4)) === 0, "yes")
        .when(pmod(col("o_orderkey"), lit(4)) === 1, "no"),
      lit("oneway"),
      when(pmod(col("o_custkey"), lit(5)) === 0, "yes")
        .when(pmod(col("o_custkey"), lit(5)) === 1, "no"),
      lit("name"),
      when(pmod(col("o_orderkey"), lit(2)) === 0,
        concat(lit("L"), refn.cast("string"), lit(" - Apex")))
        .otherwise(lit("Apex Lift")),
      lit("ref"), concat(lit("L"), refn.cast("string")))
    graft.Tables.fanout(o)
      .select(col("o_orderkey").as("lift_id"), tags.as("tags"))
  }

  // ---- P2: lift formatter ------------------------------------------------
  // Lift features synthesized from orders: lifecycle over aerialway
  // (railway fallback by VALUE, rail values → 'railway', funicular
  // kept), "m:ss"/minutes/3-component aerialway:duration parsing, the
  // LiftFormatter.ts:42-53 drop set (access=private kept as a column),
  // occupancy/capacity numbers, cabin booleans, name ref-prefix strip.
  private val qLifts = QuerySpec.of(
    "q_ski_format_lifts",
    s"""WITH $liftOracleCtes
      |SELECT * FROM lfmt ORDER BY lift_id""".stripMargin) { (s, d) =>
    formattedLifts(s, d)
      .select("lift_id", "status", "lift_type", "duration_s", "occupancy",
        "capacity", "bubble", "heating", "detachable", "oneway", "access",
        "name", "ref")
      .orderBy("lift_id")
  }

  // ---- P4: spots -----------------------------------------------------------
  // Spot features synthesized from events; 'error' and 'purchase'
  // events carry tag combinations that emit TWO spots each, exercising
  // the one-input-many-outputs explode path.

  /** Synthesized raw spot features (node_id, tags): a click tags a
    * crossing, a signup a lift station, an error a transceiver training
    * ground and a halfpipe, a view a transceiver checkpoint, a purchase
    * a crossing and a lift station.
    */
  private def spotFeatures(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val pidx = pmod(floor(col("value")).cast("long"), lit(4))
    val stationPos = when(pidx === 0, "top").when(pidx === 1, "mid")
      .when(pidx === 2, "bottom").otherwise("junk")
    val tags = map(
      lit("ski"),
      when(col("event_type").isin("click", "purchase"), "crossing"),
      lit("aerialway"),
      when(col("event_type").isin("signup", "purchase"), "station"),
      lit("aerialway:station"), stationPos,
      lit("avalanche_transceiver"),
      when(col("event_type") === "error", "training")
        .when(col("event_type") === "view", "checkpoint"),
      lit("halfpipe"), when(col("event_type") === "error", "yes"))
    graft.Tables.fanout(Events.eventsMs(s, d))
      .select(col("event_id").as("node_id"), tags.as("tags"))
  }

  /** Formatted spots, the frame every spot sink reads: one
    * [[graft.Scaffold]] artifact of [[spotFrame]] per `events`
    * fingerprint, like [[formatted]].
    */
  private[graft] def formattedSpots(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    graft.Scaffold.table(s, "ski-format-spots",
      graft.Tables.fingerprint(s, d, "events"))(spotFrame(s, d))

  /** [[Formatters.formatSpots]] over [[spotFeatures]] (node_id,
    * spot_type, position) plus the attributes every spot sink renders —
    * id, a station's name, lift_id, entry and exit, a crossing's
    * dismount, and the anchor point (lon, lat). An attribute is null on
    * a spot type that has none.
    */
  private[graft] def spotFrame(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val node = col("node_id")
    val isStation = col("spot_type") === "lift_station"
    Formatters.formatSpots(spotFeatures(s, d))
      .select(node, col("spot_type"), col("position"),
        Formatters.spotId(node, col("spot_type")).as("id"),
        when(isStation, concat(lit("Station "), node)).as("name"),
        when(isStation, concat(lit("lift_"), pmod(node, lit(97))))
          .as("lift_id"),
        when(isStation, pmod(node, lit(2)) === 0).as("entry"),
        when(isStation, pmod(node, lit(5)) < 2).as("exit"),
        when(col("spot_type") === "crossing",
          when(pmod(node, lit(3)) === 0, "yes")
            .when(pmod(node, lit(3)) === 1, "no")
            .otherwise("sometimes")).as("dismount"),
        SkiFeatures.anchorLon(node).as("lon"),
        SkiFeatures.anchorLat(node).as("lat"))
  }

  /** DuckDB twin of [[formattedSpots]]: `sev` is one row per event and
    * spot type it emits, `sfmt` the formatted spot with its attributes.
    */
  private[operators] val spotOracleCtes: String =
    s"""sev AS (
      |  SELECT event_id AS node_id, u.spot_type,
      |    CASE WHEN u.spot_type = 'lift_station' THEN
      |      CASE CAST(floor(value) AS BIGINT) % 4
      |        WHEN 0 THEN 'top' WHEN 1 THEN 'mid' WHEN 2 THEN 'bottom' END
      |    END AS position
      |  FROM events, unnest(
      |    CASE event_type
      |      WHEN 'click' THEN ['crossing']
      |      WHEN 'signup' THEN ['lift_station']
      |      WHEN 'error' THEN ['avalanche_transceiver_training', 'halfpipe']
      |      WHEN 'view' THEN ['avalanche_transceiver_checkpoint']
      |      ELSE ['lift_station', 'crossing'] END) AS u(spot_type)),
      |sfmt AS (
      |  SELECT node_id, spot_type, position,
      |    ${Formatters.sql.spotId("node_id", "spot_type")} AS id,
      |    CASE WHEN spot_type = 'lift_station'
      |      THEN 'Station ' || CAST(node_id AS VARCHAR) END AS name,
      |    CASE WHEN spot_type = 'lift_station'
      |      THEN 'lift_' || CAST(node_id % 97 AS VARCHAR) END AS lift_id,
      |    CASE WHEN spot_type = 'lift_station' THEN node_id % 2 = 0 END AS entry,
      |    CASE WHEN spot_type = 'lift_station' THEN node_id % 5 < 2 END AS exit,
      |    CASE WHEN spot_type = 'crossing' THEN
      |      CASE node_id % 3 WHEN 0 THEN 'yes' WHEN 1 THEN 'no'
      |        ELSE 'sometimes' END END AS dismount,
      |    ${SkiFeatures.sql.anchorLon("node_id")} AS lon,
      |    ${SkiFeatures.sql.anchorLat("node_id")} AS lat
      |  FROM sev)""".stripMargin

  // P4 multi-spot emission: spots per (type, position).
  private val qSpots = QuerySpec.of(
    "q_ski_format_spots",
    s"""WITH $spotOracleCtes
      |SELECT spot_type, coalesce(position, '') AS position, count(*) AS n
      |FROM sfmt GROUP BY ALL
      |ORDER BY spot_type, position""".stripMargin) { (s, d) =>
    formattedSpots(s, d)
      .withColumn("position", coalesce(col("position"), lit("")))
      .groupBy("spot_type", "position")
      .agg(count(lit(1)).as("n"))
      .orderBy("spot_type", "position")
  }

  val specs: Seq[QuerySpec] =
    Seq(qFormat, qLength, qStats, qGridJoin, qSkiKnn, qLineJoin, qViirs, qNormalize,
      qNormalizeProps, qPolygonAssign, qAreaGen, qCluster, qLifts, qSpots)
}
