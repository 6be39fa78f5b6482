package graft.operators

import graft.QuerySpec
import graft.functions.GeoFunctions
import graft.functions.GeoFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SkiFeatures.{CellDeg, RadiusM}

/** Full ski-area statistics shape (SURVEY A1,
  * `/root/reference/src/statistics/SkiAreaStatistics.ts:37-235`) and
  * elevation-profile heights (E2, `src/transforms/Elevation.ts:108-144`).
  *
  * A1: per ski area — runs.byActivity[a].byDifficulty[d] with
  * {count, lengthInKm, snowmaking/snowfarmingLengthInKm,
  * combinedElevationChange, min/maxElevation}, per-activity-root and
  * runs-root elevations, lifts.byType[t] with the same members, and the
  * LIFT-SERVICED top-level elevations: max = min(runMax, liftMax),
  * min = max(runMin, liftMin) (`SkiAreaStatistics.ts:71-91`). The
  * nested maps render as canonically-sorted strings so the nested
  * construction is oracle-checkable column-by-column. JS truthiness
  * quirk mirrored: an elevation of exactly 0 counts as missing.
  *
  * E2: heights sampled every 25 m along the line plus the endpoint,
  * linearly interpolated by along-line distance — the general operator
  * walks segments with a fold; the oracle re-derives the 3-point
  * closed form independently.
  */
object Statistics {

  /** Shared oracle CTE block for the per-area machinery (areas with
    * their activity and id, grid assignment, per-activity run rows, lift
    * rows, the lift-serviced elevations `el` and the per-activity km
    * `adp`) — prefixed by `SkiQueries.oraclePrelude` at each use site.
    * Reused by the full-statistics oracle and the ski-area sink oracles
    * so all replay identical assignment semantics.
    */
  private[operators] val statsOracleCtes: String = {
    val havRun = GeoFunctions.sqlHaversineM("a.alon", "a.alat", "r.lon0", "r.lat0")
    val lenRun = SkiQueries.lenSql
    val havLift = GeoFunctions.sqlHaversineM("a.alon", "a.alat", "l.llon", "l.llat")
    val lenLift = GeoFunctions.sqlHaversineM("llon", "llat",
      "(llon + ldx)", "(llat + ldy)") + " + " +
      GeoFunctions.sqlHaversineM("(llon + ldx)", "(llat + ldy)",
        "(llon + ldx * 2)", "(llat + ldy)")
    val (mn, mx) = sql.servicedElevation
    s"""areas AS (
      |  SELECT *, ${Formatters.sql.synthAreaId("area_id")} AS fid
      |  FROM (${SkiFeatures.sql.areas(withAct = true)})),
      |acells AS (
      |  ${GridJoin.sqlWalk("area_id, alon, alat", "alon", "alat", "areas",
            CellDeg, GridJoin.Within(RadiusM))}),
      |rr AS (
      |  SELECT way_id, uses, coalesce(difficulty, 'other') AS difficulty,
      |    snowmaking, snowfarming, ($lenRun) / 1000.0 AS km,
      |    (z0 + l_quantity * 2 - z0) AS dz, z0 AS minz,
      |    (z0 + l_quantity * 2) AS maxz, lon0, lat0,
      |    CAST(floor(lon0 / $CellDeg) AS BIGINT) AS cx,
      |    CAST(floor(lat0 / $CellDeg) AS BIGINT) AS cy
      |  FROM kept),
      |rasg AS (
      |  SELECT r.way_id, min(a.area_id) AS area_id
      |  FROM acells a JOIN rr r ON a.cx = r.cx AND a.cy = r.cy
      |  WHERE ($havRun) <= $RadiusM GROUP BY r.way_id),
      |runs AS (
      |  SELECT g.area_id, u.activity, r.*
      |  FROM rr r JOIN rasg g ON r.way_id = g.way_id,
      |    unnest(list_filter(r.uses, x -> x IN ('downhill', 'nordic'))) AS u(activity)),
      |lifts0 AS (
      |  SELECT o_orderkey AS lift_id,
      |    CASE o_custkey % 6 WHEN 0 THEN 'chair_lift' WHEN 1 THEN 'gondola'
      |      WHEN 2 THEN 't-bar' WHEN 3 THEN 'platter'
      |      WHEN 4 THEN 'drag_lift' ELSE NULL END AS lift_type,
      |    ${SkiFeatures.sql.anchorLon("o_orderkey")} AS llon,
      |    ${SkiFeatures.sql.anchorLat("o_orderkey")} AS llat,
      |    ${SkiFeatures.sql.liftLine("o_orderkey", "o_custkey", "lz0")}
      |  FROM orders WHERE ${SkiFeatures.sql.isLift("o_orderkey")}),
      |ll AS (
      |  SELECT lift_id, coalesce(lift_type, 'other') AS lift_type,
      |    ($lenLift) / 1000.0 AS km, 2.0 * rise AS dz,
      |    lz0 AS minz, lz0 + 2.0 * rise AS maxz, llon, llat,
      |    CAST(floor(llon / $CellDeg) AS BIGINT) AS cx,
      |    CAST(floor(llat / $CellDeg) AS BIGINT) AS cy
      |  FROM lifts0),
      |lasg AS (
      |  SELECT l.lift_id, min(a.area_id) AS area_id
      |  FROM acells a JOIN ll l ON a.cx = l.cx AND a.cy = l.cy
      |  WHERE ($havLift) <= $RadiusM GROUP BY l.lift_id),
      |lj AS (
      |  SELECT g.area_id, l.* FROM ll l JOIN lasg g ON l.lift_id = g.lift_id),
      |el AS (
      |  SELECT coalesce(r.area_id, l.area_id) AS area_id, $mn AS mn, $mx AS mx
      |  FROM (
      |    SELECT area_id,
      |      min(CASE WHEN minz <> 0 THEN minz END) AS run_min,
      |      max(CASE WHEN maxz <> 0 THEN maxz END) AS run_max
      |    FROM runs GROUP BY 1) r
      |  FULL OUTER JOIN (
      |    SELECT area_id,
      |      min(CASE WHEN minz <> 0 THEN minz END) AS lift_min,
      |      max(CASE WHEN maxz <> 0 THEN maxz END) AS lift_max
      |    FROM lj GROUP BY 1) l ON r.area_id = l.area_id),
      |adp AS (
      |  SELECT area_id,
      |    sum(CASE WHEN activity = 'downhill' THEN km END) AS dkm,
      |    sum(CASE WHEN activity = 'nordic' THEN km END) AS nkm
      |  FROM runs GROUP BY 1)""".stripMargin
  }

  /** The lift-serviced elevations (`SkiAreaStatistics.ts:71-91`) over
    * a frame carrying run_min/run_max and lift_min/lift_max: (min, max),
    * min = max(runMin, liftMin) and max = min(runMax, liftMax), a
    * missing side falling back to the other.
    */
  def servicedElevation: (Column, Column) = (
    when(col("run_min").isNull, col("lift_min"))
      .when(col("lift_min").isNull, col("run_min"))
      .otherwise(greatest(col("run_min"), col("lift_min"))),
    when(col("run_max").isNull, col("lift_max"))
      .when(col("lift_max").isNull, col("run_max"))
      .otherwise(least(col("run_max"), col("lift_max"))))

  /** DuckDB twin of [[servicedElevation]]. */
  object sql {
    val servicedElevation: (String, String) = (
      """(CASE WHEN run_min IS NULL THEN lift_min
        |    WHEN lift_min IS NULL THEN run_min
        |    ELSE greatest(run_min, lift_min) END)""".stripMargin,
      """(CASE WHEN run_max IS NULL THEN lift_max
        |    WHEN lift_max IS NULL THEN run_max
        |    ELSE least(run_max, lift_max) END)""".stripMargin)
  }

  // elevation 0 counts as missing ("JS truthiness")
  private def nzMin(c: Column) = min(when(c =!= 0.0, c))
  private def nzMax(c: Column) = max(when(c =!= 0.0, c))

  /** Spark twin of [[statsOracleCtes]]: the shared per-area dataflow.
    * `areas` = (area_id, act, alon, alat, fid); `runs` = per-(run,
    * activity) rows with the min-area assignment; `lj` = assigned lift
    * rows. The sinks' per-area rollups are built on first use.
    */
  private[operators] final case class AreaFrames(
      areas: DataFrame, runs: DataFrame, lj: DataFrame) {
    /** (area_id, mn, mx): the lift-serviced elevations. */
    lazy val elevation: DataFrame = {
      val (mn, mx) = servicedElevation
      runs.groupBy("area_id")
        .agg(nzMin(col("minz")).as("run_min"), nzMax(col("maxz")).as("run_max"))
        .join(lj.groupBy("area_id").agg(nzMin(col("minz")).as("lift_min"),
          nzMax(col("maxz")).as("lift_max")), Seq("area_id"), "full_outer")
        .select(col("area_id"), mn.as("mn"), mx.as("mx"))
    }

    /** (area_id, dkm, nkm): run km per activity. */
    lazy val activityKm: DataFrame = runs.groupBy("area_id").agg(
      sum(when(col("activity") === "downhill", col("km"))).as("dkm"),
      sum(when(col("activity") === "nordic", col("km"))).as("nkm"))
  }

  private[operators] def areaFrames(s: SparkSession, d: String): AreaFrames = {
    val areas = SkiFeatures.areas(s, d)
      .select(col("area_id"), col("act"), col("lon").as("alon"),
        col("lat").as("alat"), Formatters.synthAreaId(col("area_id")).as("fid"))
    // the grid joins size their broadcast from the left frame's columns
    val anchors = areas.select("area_id", "alon", "alat")

    def pt(i: Int, j: Int) = element_at(element_at(col("coords"), i), j)
    val rr = SkiQueries.formatted(s, d).filter(col("kept"))
      .select(col("way_id"), col("uses"), col("snowmaking"),
        col("snowfarming"),
        coalesce(col("difficulty"), lit("other")).as("difficulty"),
        (lineLengthM(col("coords")) / 1000.0).as("km"),
        (pt(3, 3) - pt(1, 3)).as("dz"),
        pt(1, 3).as("minz"), pt(3, 3).as("maxz"),
        pt(1, 1).as("lon"), pt(1, 2).as("lat"))
    val rasg = SkiQueries.nearestArea(anchors, rr, "way_id")
    val runs = rr.join(rasg, "way_id")
      .select(col("*"), explode(filter(col("uses"),
        u => u.isin("downhill", "nordic"))).as("activity"))

    val k = col("o_orderkey")
    val tsel = pmod(col("o_custkey"), lit(6))
    val ll = graft.Tables.orders(s, d).filter(SkiFeatures.isLift(k))
      .select(Seq(k.as("lift_id"),
        coalesce(when(tsel === 0, "chair_lift").when(tsel === 1, "gondola")
          .when(tsel === 2, "t-bar").when(tsel === 3, "platter")
          .when(tsel === 4, "drag_lift"), lit("other")).as("lift_type"),
        SkiFeatures.anchorLon(k).as("llon"), SkiFeatures.anchorLat(k).as("llat"))
        ++ SkiFeatures.liftLine(k, col("o_custkey"), "lz0"): _*)
      .withColumn("km",
        (haversineM(col("llon"), col("llat"), col("llon") + col("ldx"),
          col("llat") + col("ldy"))
          + haversineM(col("llon") + col("ldx"), col("llat") + col("ldy"),
            col("llon") + col("ldx") * 2, col("llat") + col("ldy"))) / 1000.0)
      .withColumn("dz", lit(2.0) * col("rise"))
      .withColumn("minz", col("lz0"))
      .withColumn("maxz", col("lz0") + lit(2.0) * col("rise"))
    val lasg = SkiQueries.nearestArea(anchors, ll, "lift_id", "llon", "llat")
    AreaFrames(areas, runs, ll.join(lasg, "lift_id"))
  }

  // ---- A1 full shape -----------------------------------------------------

  /** The reusable A1 statistics kernel
    * (`/root/reference/src/statistics/SkiAreaStatistics.ts:37-235`;
    * scenarios `ClusterSkiAreas.integration.test.ts:615,706`).
    *
    * `runs` = per-(run, activity) rows `(area_id, activity, difficulty,
    * km, dz, minz, maxz, snowmaking, snowfarming)`; `lifts` = assigned
    * lift rows `(area_id, lift_type, km, dz, minz, maxz)`. Produces one
    * row per area with the canonically-sorted nested byActivity/
    * byDifficulty and byType blocks plus the LIFT-SERVICED top-level
    * elevations: max = min(runMax, liftMax), min = max(runMin, liftMin)
    * (`SkiAreaStatistics.ts:71-91`). Elevation 0 counts as missing (JS
    * truthiness mirrored). Two partial-agg passes per side carry the
    * elevation extremes up (a null-skipping min of per-group mins is
    * the min over all rows); the sides meet in one full outer join on
    * the (small) area key space.
    */
  def fullStatistics(runs: DataFrame, lifts: DataFrame): DataFrame = {
    val rd = runs.groupBy("area_id", "activity", "difficulty")
      .agg(count(lit(1)).as("n"), sum("km").as("km"),
        sum(when(col("snowmaking"), col("km")).otherwise(0.0)).as("smk"),
        sum(when(col("snowfarming"), col("km")).otherwise(0.0)).as("sfk"),
        sum(abs(col("dz"))).as("cdz"),
        nzMin(col("minz")).as("mn"), nzMax(col("maxz")).as("mx"))
    val diffEntry = concat(col("difficulty"), lit(":{n="), col("n"),
      lit(",km="), format_string("%.4f", col("km")),
      lit(",smk="), format_string("%.4f", col("smk")),
      lit(",sfk="), format_string("%.4f", col("sfk")),
      lit(",dz="), format_string("%.4f", col("cdz")),
      lit(",min="), when(col("mn").isNull, lit("-"))
        .otherwise(format_string("%.1f", col("mn"))),
      lit(",max="), when(col("mx").isNull, lit("-"))
        .otherwise(format_string("%.1f", col("mx"))),
      lit("}"))
    val ra = rd.withColumn("entry", diffEntry)
      .groupBy("area_id", "activity")
      .agg(array_join(array_sort(collect_list(col("entry"))), ";").as("diffs"),
        min("mn").as("mn"), max("mx").as("mx"))
    val rstr = ra
      .withColumn("ablock", concat(col("activity"), lit(":{"),
        col("diffs"), lit("}")))
      .groupBy("area_id")
      .agg(array_join(array_sort(collect_list(col("ablock"))), "|")
        .as("runs_stats"), min("mn").as("run_min"), max("mx").as("run_max"))

    val lt = lifts.groupBy("area_id", "lift_type")
      .agg(count(lit(1)).as("n"), sum("km").as("km"),
        sum(abs(col("dz"))).as("cdz"),
        nzMin(col("minz")).as("mn"), nzMax(col("maxz")).as("mx"))
    val typeEntry = concat(col("lift_type"), lit(":{n="), col("n"),
      lit(",km="), format_string("%.4f", col("km")),
      lit(",dz="), format_string("%.4f", col("cdz")),
      lit(",min="), when(col("mn").isNull, lit("-"))
        .otherwise(format_string("%.1f", col("mn"))),
      lit(",max="), when(col("mx").isNull, lit("-"))
        .otherwise(format_string("%.1f", col("mx"))),
      lit("}"))
    val lstr = lt.withColumn("entry", typeEntry)
      .groupBy("area_id")
      .agg(array_join(array_sort(collect_list(col("entry"))), "|")
        .as("lifts_stats"), min("mn").as("lift_min"), max("mx").as("lift_max"))

    val (mn, mx) = servicedElevation
    rstr.join(lstr, Seq("area_id"), "full_outer")
      .select(col("area_id"),
        coalesce(col("runs_stats"), lit("")).as("runs_stats"),
        coalesce(col("lifts_stats"), lit("")).as("lifts_stats"),
        (floor(mn * 1e1 + 0.5) / 1e1).as("min_elevation"),
        (floor(mx * 1e1 + 0.5) / 1e1).as("max_elevation"))
  }

  private val qFull = QuerySpec.of(
    "q_ski_statistics_full", {
      s"""WITH ${SkiQueries.oraclePrelude},
        |$statsOracleCtes,
        |rd AS (
        |  SELECT area_id, activity, difficulty, count(*) AS n,
        |    sum(km) AS km, sum(CASE WHEN snowmaking THEN km ELSE 0 END) AS smk,
        |    sum(CASE WHEN snowfarming THEN km ELSE 0 END) AS sfk,
        |    sum(abs(dz)) AS cdz,
        |    min(CASE WHEN minz <> 0 THEN minz END) AS mn,
        |    max(CASE WHEN maxz <> 0 THEN maxz END) AS mx
        |  FROM runs GROUP BY 1, 2, 3),
        |ra AS (
        |  SELECT area_id, activity,
        |    string_agg(difficulty || ':{n=' || CAST(n AS VARCHAR)
        |      || ',km=' || printf('%.4f', km) || ',smk=' || printf('%.4f', smk)
        |      || ',sfk=' || printf('%.4f', sfk) || ',dz=' || printf('%.4f', cdz)
        |      || ',min=' || coalesce(printf('%.1f', mn), '-')
        |      || ',max=' || coalesce(printf('%.1f', mx), '-') || '}',
        |      ';' ORDER BY difficulty) AS diffs
        |  FROM rd GROUP BY 1, 2),
        |rstr AS (
        |  SELECT area_id,
        |    string_agg(activity || ':{' || diffs || '}', '|' ORDER BY activity)
        |      AS runs_stats
        |  FROM ra GROUP BY 1),
        |lt AS (
        |  SELECT area_id, lift_type, count(*) AS n, sum(km) AS km,
        |    sum(abs(dz)) AS cdz,
        |    min(CASE WHEN minz <> 0 THEN minz END) AS mn,
        |    max(CASE WHEN maxz <> 0 THEN maxz END) AS mx
        |  FROM lj GROUP BY 1, 2),
        |lstr AS (
        |  SELECT area_id,
        |    string_agg(lift_type || ':{n=' || CAST(n AS VARCHAR)
        |      || ',km=' || printf('%.4f', km) || ',dz=' || printf('%.4f', cdz)
        |      || ',min=' || coalesce(printf('%.1f', mn), '-')
        |      || ',max=' || coalesce(printf('%.1f', mx), '-') || '}',
        |      '|' ORDER BY lift_type) AS lifts_stats
        |  FROM lt GROUP BY 1)
        |SELECT area_id,
        |  coalesce(rstr.runs_stats, '') AS runs_stats,
        |  coalesce(lstr.lifts_stats, '') AS lifts_stats,
        |  (floor(mn * 1e1 + 0.5) / 1e1) AS min_elevation,
        |  (floor(mx * 1e1 + 0.5) / 1e1) AS max_elevation
        |FROM el LEFT JOIN rstr USING (area_id) LEFT JOIN lstr USING (area_id)
        |ORDER BY area_id""".stripMargin
    }) { (s, d) =>
    val af = areaFrames(s, d)
    fullStatistics(af.runs, af.lj).orderBy("area_id")
  }

  // ---- E2: elevation profile heights -------------------------------------
  private val ProfRes = 25.0
  private val ProfSample = 41

  private val qProfile = QuerySpec.of(
    "q_ski_profile_heights", {
      val h1 = GeoFunctions.sqlHaversineM("lon0", "lat0",
        "(lon0 + dx)", "(lat0 + dy)")
      val h2 = GeoFunctions.sqlHaversineM("(lon0 + dx)", "(lat0 + dy)",
        "(lon0 + dx * 2)", "(lat0 + dy)")
      s"""WITH ${SkiQueries.oraclePrelude},
        |e AS (
        |  SELECT way_id, ($h1) AS len1, ($h2) AS len2,
        |    z0 AS z0, (z0 + l_quantity) AS z1, (z0 + l_quantity * 2) AS z2
        |  FROM kept WHERE way_id % $ProfSample = 0),
        |hts AS (
        |  SELECT way_id,
        |    list_transform(generate_series(0,
        |      CAST(floor((len1 + len2) / $ProfRes) AS BIGINT)),
        |      k -> CASE WHEN CAST(k AS DOUBLE) * $ProfRes <= len1
        |        THEN z0 + (z1 - z0) * (CAST(k AS DOUBLE) * $ProfRes - 0.0) / len1
        |        ELSE z1 + (z2 - z1) * (CAST(k AS DOUBLE) * $ProfRes - len1) / len2
        |      END) AS hs,
        |    z2
        |  FROM e)
        |SELECT way_id, CAST(len(hs) + 1 AS BIGINT) AS n_points,
        |  array_to_string(list_transform(hs, h -> printf('%.2f', h)), ';')
        |    || ';' || printf('%.2f', z2) AS heights
        |FROM hts ORDER BY way_id""".stripMargin
    }) { (s, d) =>
    SkiQueries.formatted(s, d).filter(col("kept"))
      .filter(pmod(col("way_id"), lit(ProfSample)) === 0)
      .withColumn("hs", GeoFunctions.profileHeights(col("coords"), ProfRes))
      .select(col("way_id"),
        size(col("hs")).cast("long").as("n_points"),
        array_join(transform(col("hs"),
          h => format_string("%.2f", h)), ";").as("heights"))
      .orderBy("way_id")
  }

  val specs: Seq[QuerySpec] = Seq(qFull, qProfile)
}
