package graft.operators

import graft.QuerySpec
import graft.functions.GeoFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Output-projection formatters (SURVEY P5/P6): the MapboxGL tile
  * properties (`/root/reference/src/transforms/MapboxGLFormatter.ts:40-277`)
  * and the CSV export rows (`/root/reference/src/transforms/CSVFormatter.ts:120-444`)
  * as pure column projections over the formatted feature tables.
  *
  * The color tables and lift-type display text live in the public
  * `openskidata-format` package (not vendored in the reference repo);
  * the mappings here are documented stand-ins with the same SHAPE —
  * convention-aware difficulty color names, hex values, status colors —
  * and the oracle replays exactly these tables.
  *
  * All of P5's interesting semantics are implemented exactly:
  * per-use parallel-line offsets `index - (n-1)/2` over the sorted
  * unique mapped uses (`MapboxGLFormatter.ts:104-121`), name+ref
  * joining, >20-char name shortening at the first '(' , the
  * all-connection run drop; P6: CSV field escaping (quote when the
  * value contains , " ; or newlines, double inner quotes), yes/no/''
  * booleans, elevation metrics from the 3D geometry, toFixed-style
  * number rendering, vertex-average centroid lat/lng at 6 dp.
  */
object OutputFormats {

  // ---- shared mapping tables (documented stand-ins, see object doc) ----
  val ColorValues: Map[String, String] = Map(
    "green" -> "#008000", "blue" -> "#005CE6", "red" -> "#E3001B",
    "black" -> "#000000", "orange" -> "#F7901E", "grey" -> "#808080")

  val LiftTypeText: Map[String, String] = Map(
    "cable_car" -> "Cable Car", "gondola" -> "Gondola",
    "chair_lift" -> "Chairlift", "mixed_lift" -> "Hybrid",
    "drag_lift" -> "Drag lift", "t-bar" -> "T-bar", "j-bar" -> "J-bar",
    "platter" -> "Platter", "rope_tow" -> "Ropetow",
    "magic_carpet" -> "Magic Carpet", "funicular" -> "Funicular",
    "railway" -> "Railway")

  /** Difficulty convention from location (openskidata-format
    * getRunDifficultyConvention is geometry-based; documented stand-in:
    * japan box, americas longitude band, europe elsewhere).
    */
  def difficultyConvention(lon: Column, lat: Column): Column =
    when(lon >= 129.0 && lon <= 146.0 && lat >= 30.0 && lat <= 45.0, "japan")
      .when(lon >= -172.0 && lon <= -40.0, "north_america")
      .otherwise("europe")

  def sqlDifficultyConvention(lon: String, lat: String): String =
    s"CASE WHEN $lon >= 129.0 AND $lon <= 146.0 AND $lat >= 30.0 " +
      s"AND $lat <= 45.0 THEN 'japan' WHEN $lon >= -172.0 AND $lon <= -40.0 " +
      "THEN 'north_america' ELSE 'europe' END"

  /** The lift types CSVFormatter counts as surface lifts
    * (`CSVFormatter.ts:379-408`), and their SQL list.
    */
  val SurfaceLiftTypes: Seq[String] = Seq("t-bar", "j-bar", "platter",
    "rope_tow", "magic_carpet", "drag_lift")
  val sqlSurfaceLiftTypes: String = SurfaceLiftTypes.map(t => s"'$t'").mkString(", ")

  /** Convention-aware difficulty → color name. */
  def runColorName(convention: Column, difficulty: Column): Column =
    when(difficulty.isNull, "grey")
      .when(difficulty === "novice", "green")
      .when(difficulty === "easy",
        when(convention === "europe", "blue").otherwise("green"))
      .when(difficulty === "intermediate",
        when(convention === "north_america", "blue").otherwise("red"))
      .when(difficulty.isin("advanced", "expert"), "black")
      .when(difficulty.isin("freeride", "extreme"), "orange")
      .otherwise("grey")

  def sqlRunColorName(convention: String, difficulty: String): String =
    s"""CASE WHEN $difficulty IS NULL THEN 'grey'
       |     WHEN $difficulty = 'novice' THEN 'green'
       |     WHEN $difficulty = 'easy' THEN
       |       CASE WHEN $convention = 'europe' THEN 'blue' ELSE 'green' END
       |     WHEN $difficulty = 'intermediate' THEN
       |       CASE WHEN $convention = 'north_america' THEN 'blue' ELSE 'red' END
       |     WHEN $difficulty IN ('advanced', 'expert') THEN 'black'
       |     WHEN $difficulty IN ('freeride', 'extreme') THEN 'orange'
       |     ELSE 'grey' END""".stripMargin

  private def mapCase(c: Column, m: Map[String, String]): Column =
    m.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
      when(c === k, lit(v)).otherwise(acc)
    }

  private def sqlMapCase(expr: String, m: Map[String, String]): String =
    "CASE " + m.map { case (k, v) => s"WHEN $expr = '$k' THEN '$v'" }
      .mkString(" ") + " END"

  /** getNameIncludingRef (MapboxGLFormatter.ts:252-262). */
  def nameIncludingRef(name: Column, ref: Column): Column =
    when(ref.isNull, name)
      .when(name.isNull, ref)
      .otherwise(concat(ref, lit(" - "), name))

  /** shortenedName: >20 chars → truncate at first '(' and trim. */
  def shortenedName(name: Column): Column =
    when(name.isNotNull && length(name) > 20,
      trim(substring_index(name, "(", 1))).otherwise(name)

  /** Lift status → line color (documented stand-in table). */
  def liftColor(status: Column): Column =
    when(status === "operating", "#000000")
      .when(status.isin("disused", "abandoned"), "#AA0000")
      .otherwise("#888888")

  // ---- P5: MapboxGL run properties ---------------------------------------
  private val qGlRuns = QuerySpec.of(
    "q_mapbox_runs", {
      val conv = sqlDifficultyConvention("lon0", "lat0")
      val color = sqlRunColorName("conv", "difficulty").replaceAll("\n", " ")
      val hex = sqlMapCase("color_name", OutputFormats.ColorValues)
      s"""WITH ${SkiQueries.oraclePrelude},
        |m AS (
        |  SELECT way_id, name, ref, difficulty, oneway, lit, gladed,
        |    patrolled, grooming,
        |    ($conv) AS conv,
        |    list_sort(list_distinct(list_transform(uses,
        |      u -> CASE WHEN u IN ('downhill', 'nordic', 'skitour')
        |        THEN u ELSE 'other' END))) AS mapped
        |  FROM kept
        |  WHERE len(list_filter(uses, u -> u <> 'connection')) > 0),
        |c AS (
        |  SELECT *, ($color) AS color_name FROM m)
        |SELECT way_id,
        |  CASE WHEN ref IS NULL THEN name
        |       WHEN name IS NULL THEN ref
        |       ELSE ref || ' - ' || name END AS name,
        |  difficulty, conv AS convention, color_name, ($hex) AS color,
        |  oneway, lit, gladed, patrolled, grooming,
        |  CASE WHEN list_contains(mapped, 'downhill')
        |    THEN CAST(list_position(mapped, 'downhill') - 1 AS DOUBLE)
        |      - CAST(len(mapped) - 1 AS DOUBLE) / 2.0 END AS downhill,
        |  CASE WHEN list_contains(mapped, 'nordic')
        |    THEN CAST(list_position(mapped, 'nordic') - 1 AS DOUBLE)
        |      - CAST(len(mapped) - 1 AS DOUBLE) / 2.0 END AS nordic,
        |  CASE WHEN list_contains(mapped, 'skitour')
        |    THEN CAST(list_position(mapped, 'skitour') - 1 AS DOUBLE)
        |      - CAST(len(mapped) - 1 AS DOUBLE) / 2.0 END AS skitour,
        |  CASE WHEN list_contains(mapped, 'other')
        |    THEN CAST(list_position(mapped, 'other') - 1 AS DOUBLE)
        |      - CAST(len(mapped) - 1 AS DOUBLE) / 2.0 END AS other
        |FROM c ORDER BY way_id""".stripMargin
    }) { (s, d) =>
    val kept = SkiQueries.formatted(s, d).filter(col("kept"))
      .filter(exists(col("uses"), u => u =!= "connection"))
    val conv = difficultyConvention(
      element_at(element_at(col("coords"), 1), 1),
      element_at(element_at(col("coords"), 1), 2))
    val mapped = array_sort(array_distinct(transform(col("uses"),
      u => when(u.isin("downhill", "nordic", "skitour"), u)
        .otherwise("other"))))
    def off(v: String): Column =
      when(array_position(col("mapped"), v) > 0,
        (array_position(col("mapped"), v) - 1).cast("double")
          - (size(col("mapped")) - 1).cast("double") / 2.0)
    kept
      .withColumn("convention", conv)
      .withColumn("mapped", mapped)
      .withColumn("color_name",
        runColorName(col("convention"), col("difficulty")))
      .select(col("way_id"),
        nameIncludingRef(col("name"), col("ref")).as("name"),
        col("difficulty"), col("convention"), col("color_name"),
        mapCase(col("color_name"), ColorValues).as("color"),
        col("oneway"), col("lit"), col("gladed"), col("patrolled"),
        col("grooming"),
        off("downhill").as("downhill"), off("nordic").as("nordic"),
        off("skitour").as("skitour"), off("other").as("other"))
      .orderBy("way_id")
  }

  // ---- P5: MapboxGL lift properties --------------------------------------
  private val qGlLifts = QuerySpec.of(
    "q_mapbox_lifts", {
      val typeText = sqlMapCase("lift_type", OutputFormats.LiftTypeText)
      s"""WITH ${SkiQueries.liftOracleCtes},
        |t AS (
        |  SELECT lift_id, status, access, ref, name,
        |    ($typeText) AS type_text
        |  FROM lfmt),
        |n AS (
        |  SELECT lift_id, status, access,
        |    CASE WHEN name IS NULL THEN type_text
        |         ELSE name || ' (' || type_text || ')' END AS nat, ref
        |  FROM t)
        |SELECT lift_id,
        |  CASE WHEN ref IS NULL THEN nat
        |       WHEN nat IS NULL THEN ref
        |       ELSE ref || ' - ' || nat END AS name_and_type,
        |  CASE WHEN status = 'operating' THEN '#000000'
        |       WHEN status IN ('disused', 'abandoned') THEN '#AA0000'
        |       ELSE '#888888' END AS color,
        |  status, access
        |FROM n ORDER BY lift_id""".stripMargin
    }) { (s, d) =>
    val typeText = mapCase(col("lift_type"), LiftTypeText)
    SkiQueries.formattedLifts(s, d)
      .withColumn("type_text", typeText)
      .withColumn("nat",
        when(col("name").isNull, col("type_text"))
          .otherwise(concat(col("name"), lit(" ("), col("type_text"),
            lit(")"))))
      .select(col("lift_id"),
        nameIncludingRef(col("nat"), col("ref")).as("name_and_type"),
        liftColor(col("status")).as("color"),
        col("status"), col("access"))
      .orderBy("lift_id")
  }

  // ---- P6: CSV run export rows -------------------------------------------
  // Full CSVFormatter.formatRun column layout; places/skiAreas/sources
  // are not modeled here and render as the reference's empty strings.
  private val qCsvRuns = QuerySpec.of(
    "q_csv_runs", {
      val conv = sqlDifficultyConvention("lon0", "lat0")
      val color = sqlRunColorName(s"($conv)", "difficulty").replaceAll("\n", " ")
      val h1 = GeoFunctions.sqlHaversineM("lon0", "lat0",
        "(lon0 + dx)", "(lat0 + dy)")
      val h2 = GeoFunctions.sqlHaversineM("(lon0 + dx)", "(lat0 + dy)",
        "(lon0 + dx * 2)", "(lat0 + dy)")
      s"""WITH ${SkiQueries.oraclePrelude},
        |e AS (
        |  SELECT way_id, name, ref, difficulty, oneway, lit, gladed,
        |    patrolled, grooming, uses, wikidata_id, website,
        |    ($conv) AS conv, ($color) AS color_name,
        |    ($h1) AS hav1, ($h2) AS hav2,
        |    l_quantity AS dz1, l_quantity AS dz2,
        |    z0, (z0 + l_quantity * 2) AS z2,
        |    (0.0 + lat0 + (lat0 + dy) + (lat0 + dy)) / 3 AS clat,
        |    (0.0 + lon0 + (lon0 + dx) + (lon0 + dx * 2)) / 3 AS clon,
        |    ${Formatters.sql.runId} AS id
        |  FROM kept),
        |x AS (
        |  SELECT way_id, id,
        |    CASE WHEN name IS NULL THEN ''
        |      WHEN regexp_matches(name, '[,";\n\r]')
        |        THEN '"' || replace(name, '"', '""') || '"'
        |      ELSE name END AS name_esc,
        |    coalesce(ref, '') AS ref_esc,
        |    coalesce(difficulty, '') AS difficulty_s, color_name,
        |    CASE WHEN oneway IS NULL THEN ''
        |         WHEN oneway THEN 'yes' ELSE 'no' END AS oneway_s,
        |    CASE WHEN lit IS NULL THEN ''
        |         WHEN lit THEN 'yes' ELSE 'no' END AS lit_s,
        |    CASE WHEN gladed IS NULL THEN ''
        |         WHEN gladed THEN 'yes' ELSE 'no' END AS gladed_s,
        |    CASE WHEN patrolled IS NULL THEN ''
        |         WHEN patrolled THEN 'yes' ELSE 'no' END AS patrolled_s,
        |    coalesce(grooming, '') AS grooming_s,
        |    array_to_string(uses, ';') AS uses_s,
        |    CAST(CAST(floor(sqrt(hav1 * hav1 + dz1 * dz1)
        |      + sqrt(hav2 * hav2 + dz2 * dz2) + 0.5) AS BIGINT) AS VARCHAR) AS inclined_s,
        |    '0' AS descent_s,
        |    CAST(CAST(floor(dz1 + dz2 + 0.5) AS BIGINT) AS VARCHAR) AS ascent_s,
        |    printf('%.2f', (dz1 + dz2) / (hav1 + hav2) * 100) AS avg_pitch_s,
        |    printf('%.2f', greatest(dz1 / hav1 * 100, dz2 / hav2 * 100)) AS max_pitch_s,
        |    CAST(CAST(floor(z0 + 0.5) AS BIGINT) AS VARCHAR) AS min_elev_s,
        |    CAST(CAST(floor(z2 + 0.5) AS BIGINT) AS VARCHAR) AS max_elev_s,
        |    conv, coalesce(wikidata_id, '') AS wikidata_s,
        |    coalesce(website, '') AS websites_s,
        |    printf('%.6f', clat) AS lat_s, printf('%.6f', clon) AS lng_s
        |  FROM e)
        |SELECT way_id,
        |  concat_ws(',', name_esc, ref_esc, '', '', '', '', difficulty_s,
        |    color_name, oneway_s, lit_s, gladed_s, patrolled_s, grooming_s,
        |    uses_s, inclined_s, descent_s, ascent_s, avg_pitch_s,
        |    max_pitch_s, min_elev_s, max_elev_s, conv, wikidata_s,
        |    websites_s, 'https://openskimap.org/?obj=' || id, id,
        |    'LineString', lat_s, lng_s, '', '', '') AS line
        |FROM x ORDER BY way_id""".stripMargin
    }) { (s, d) =>
    val kept = SkiQueries.formatted(s, d).filter(col("kept"))
    def pt(i: Int, j: Int) = element_at(element_at(col("coords"), i), j)
    val hav1 = GeoFunctions.haversineM(pt(1, 1), pt(1, 2), pt(2, 1), pt(2, 2))
    val hav2 = GeoFunctions.haversineM(pt(2, 1), pt(2, 2), pt(3, 1), pt(3, 2))
    val dz1 = pt(2, 3) - pt(1, 3)
    val dz2 = pt(3, 3) - pt(2, 3)
    val centroid = GeoFunctions.centroid(col("coords"))
    kept
      .withColumn("conv", difficultyConvention(pt(1, 1), pt(1, 2)))
      .withColumn("color_name",
        runColorName(col("conv"), col("difficulty")))
      .select(col("way_id"), concat_ws(",",
        esc(col("name")), coalesce(col("ref"), lit("")),
        lit(""), lit(""), lit(""), lit(""),
        coalesce(col("difficulty"), lit("")), col("color_name"),
        yn(col("oneway")), yn(col("lit")), yn(col("gladed")),
        yn(col("patrolled")), coalesce(col("grooming"), lit("")),
        concat_ws(";", col("uses")),
        fixed0(sqrt(hav1 * hav1 + dz1 * dz1) + sqrt(hav2 * hav2 + dz2 * dz2)),
        fixed0(greatest(-dz1, lit(0.0)) + greatest(-dz2, lit(0.0))),
        fixed0(greatest(dz1, lit(0.0)) + greatest(dz2, lit(0.0))),
        format_string("%.2f", (dz1 + dz2) / (hav1 + hav2) * 100),
        format_string("%.2f",
          greatest(dz1 / hav1 * 100, dz2 / hav2 * 100)),
        fixed0(pt(1, 3)), fixed0(pt(3, 3)),
        col("conv"), coalesce(col("wikidata_id"), lit("")),
        coalesce(col("website"), lit("")),
        concat(lit("https://openskimap.org/?obj="), col("id")), col("id"),
        lit("LineString"),
        format_string("%.6f", centroid.getField("lat")),
        format_string("%.6f", centroid.getField("lon")),
        lit(""), lit(""), lit("")).as("line"))
      .orderBy("way_id")
  }

  // ---- shared CSV field helpers (CSVFormatter.ts:294-321) ----------------
  private def esc(c: Column): Column =
    when(c.isNull, "")
      .when(c.rlike("[,\";\\n\\r]"),
        concat(lit("\""), regexp_replace(c, "\"", "\"\""), lit("\"")))
      .otherwise(c)

  private def yn(c: Column): Column =
    when(c.isNull, "").when(c, "yes").otherwise("no")

  private val sqlYn = (x: String) =>
    s"CASE WHEN $x IS NULL THEN '' WHEN $x THEN 'yes' ELSE 'no' END"

  /** JS `Math.round(x).toString()` (round half toward +inf). */
  private def fixed0(c: Column): Column =
    floor(c + 0.5).cast("long").cast("string")

  private val sqlFixed0 = (x: String) =>
    s"CAST(CAST(floor($x + 0.5) AS BIGINT) AS VARCHAR)"

  // ---- P6: CSV lift export rows -------------------------------------------
  // CSVFormatter.formatLift column layout (CSVFormatter.ts:215-249).
  // The synthesized lift features carry no geometry, so the elevation
  // block and lat/lng render as the reference's empty strings (JS
  // `elevationData?.x` → undefined → '' in join; getGeometry catch
  // path), and `duration ? toString : ''` means a 0-second duration
  // renders empty (JS truthiness), mirrored exactly.
  private val qCsvLifts = QuerySpec.of(
    "q_csv_lifts",
    s"""WITH ${SkiQueries.liftOracleCtes},
      |x AS (
      |  SELECT lift_id, status, lift_type, duration_s, occupancy, capacity,
      |    bubble, heating, detachable, oneway, access, name, ref,
      |    ${Formatters.sql.liftId} AS id
      |  FROM lfmt)
      |SELECT lift_id,
      |  concat_ws(',', name, ref, '', lift_type, status,
      |    coalesce(access, ''), '', '', '', '',
      |    ${sqlYn("oneway")},
      |    CASE WHEN duration_s IS NULL OR duration_s = 0 THEN ''
      |         ELSE CAST(duration_s AS VARCHAR) END,
      |    CASE WHEN capacity IS NULL OR capacity = 0 THEN ''
      |         ELSE CAST(capacity AS VARCHAR) END,
      |    CASE WHEN occupancy IS NULL OR occupancy = 0 THEN ''
      |         ELSE CAST(occupancy AS VARCHAR) END,
      |    ${sqlYn("detachable")}, ${sqlYn("bubble")}, ${sqlYn("heating")},
      |    '', '', '', '', '', '', '',
      |    '', '',
      |    'https://openskimap.org/?obj=' || id, id,
      |    'LineString', '', '', '', '', '') AS line
      |FROM x ORDER BY lift_id""".stripMargin) { (s, d) =>
    SkiQueries.formattedLifts(s, d)
      .select(col("lift_id"), concat_ws(",",
        esc(col("name")), esc(col("ref")), lit(""),
        coalesce(col("lift_type"), lit("")), col("status"),
        coalesce(col("access"), lit("")),
        lit(""), lit(""), lit(""), lit(""),
        yn(col("oneway")),
        when(col("duration_s").isNull || col("duration_s") === 0, "")
          .otherwise(col("duration_s").cast("string")),
        when(col("capacity").isNull || col("capacity") === 0, "")
          .otherwise(col("capacity").cast("string")),
        when(col("occupancy").isNull || col("occupancy") === 0, "")
          .otherwise(col("occupancy").cast("string")),
        yn(col("detachable")), yn(col("bubble")), yn(col("heating")),
        lit(""), lit(""), lit(""), lit(""), lit(""), lit(""), lit(""),
        lit(""), lit(""),
        concat(lit("https://openskimap.org/?obj="), col("id")), col("id"),
        lit("LineString"), lit(""), lit(""),
        lit(""), lit(""), lit("")).as("line"))
      .orderBy("lift_id")
  }

  // ---- P6: CSV ski-area export rows ---------------------------------------
  // CSVFormatter.formatSkiArea (CSVFormatter.ts:250-292) incl. the
  // surface-lift subtotal ([[SurfaceLiftTypes]]) and the JS-truthy
  // "render '' for 0 or missing" counts/elevations. Statistics,
  // activity and id come from the shared per-area machinery
  // (Statistics.areaFrames).
  private val qCsvSkiAreas = QuerySpec.of(
    "q_csv_ski_areas", {
      val conv = sqlDifficultyConvention("alon", "alat")
      s"""WITH ${SkiQueries.oraclePrelude},
        |${Statistics.statsOracleCtes},
        |lc AS (
        |  SELECT area_id, count(*) AS n_lifts,
        |    sum(CASE WHEN lift_type IN ($sqlSurfaceLiftTypes)
        |      THEN 1 ELSE 0 END) AS n_surface
        |  FROM lj GROUP BY 1),
        |x AS (
        |  SELECT a.area_id, a.act, a.alon, a.alat, adp.dkm, adp.nkm,
        |    lc.n_lifts, lc.n_surface, el.mn, el.mx, a.fid AS id
        |  FROM areas a LEFT JOIN adp USING (area_id)
        |  LEFT JOIN lc USING (area_id) LEFT JOIN el USING (area_id))
        |SELECT area_id,
        |  concat_ws(',',
        |    'Area #' || CAST(area_id AS VARCHAR), '', '', '', 'operating',
        |    CASE WHEN act = 'downhill' THEN 'yes' ELSE 'no' END,
        |    CASE WHEN act = 'nordic' THEN 'yes' ELSE 'no' END,
        |    CASE WHEN dkm IS NOT NULL THEN ${sqlFixed0("dkm")} ELSE '' END,
        |    CASE WHEN nkm IS NOT NULL THEN ${sqlFixed0("nkm")} ELSE '' END,
        |    CASE WHEN mn IS NOT NULL AND mx IS NOT NULL
        |      THEN ${sqlFixed0("(mx - mn)")} ELSE '' END,
        |    CASE WHEN mn IS NOT NULL THEN ${sqlFixed0("mn")} ELSE '' END,
        |    CASE WHEN mx IS NOT NULL THEN ${sqlFixed0("mx")} ELSE '' END,
        |    CASE WHEN n_lifts > 0 THEN CAST(n_lifts AS VARCHAR) ELSE '' END,
        |    CASE WHEN n_surface > 0 THEN CAST(n_surface AS VARCHAR) ELSE '' END,
        |    ($conv), '', '',
        |    'https://openskimap.org/?obj=' || id, id,
        |    'Point', printf('%.6f', alat), printf('%.6f', alon), '') AS line
        |FROM x ORDER BY area_id""".stripMargin
    }) { (s, d) =>
    val af = Statistics.areaFrames(s, d)
    val lc = af.lj.groupBy("area_id").agg(
      count(lit(1)).as("n_lifts"),
      sum(when(col("lift_type").isin(SurfaceLiftTypes: _*), 1)
        .otherwise(0)).as("n_surface"))
    af.areas
      .join(af.activityKm, Seq("area_id"), "left")
      .join(lc, Seq("area_id"), "left")
      .join(af.elevation, Seq("area_id"), "left")
      .select(col("area_id"), concat_ws(",",
        concat(lit("Area #"), col("area_id")),
        lit(""), lit(""), lit(""), lit("operating"),
        when(col("act") === "downhill", "yes").otherwise("no"),
        when(col("act") === "nordic", "yes").otherwise("no"),
        when(col("dkm").isNotNull, fixed0(col("dkm"))).otherwise(""),
        when(col("nkm").isNotNull, fixed0(col("nkm"))).otherwise(""),
        when(col("mn").isNotNull && col("mx").isNotNull,
          fixed0(col("mx") - col("mn"))).otherwise(""),
        when(col("mn").isNotNull, fixed0(col("mn"))).otherwise(""),
        when(col("mx").isNotNull, fixed0(col("mx"))).otherwise(""),
        when(col("n_lifts") > 0, col("n_lifts").cast("string")).otherwise(""),
        when(col("n_surface") > 0, col("n_surface").cast("string"))
          .otherwise(""),
        difficultyConvention(col("alon"), col("alat")),
        lit(""), lit(""),
        concat(lit("https://openskimap.org/?obj="), col("fid")), col("fid"),
        lit("Point"),
        format_string("%.6f", col("alat")),
        format_string("%.6f", col("alon")),
        lit("")).as("line"))
      .orderBy("area_id")
  }

  // ---- P6: CSV spot export rows -------------------------------------------
  // CSVFormatter.formatSpot (CSVFormatter.ts:407-444): shared columns +
  // a type-specific block — dismount for crossings; name / position /
  // entry / exit for lift stations; empty for the rest. The rows render
  // SkiQueries.formattedSpots (its twin: SkiQueries.spotOracleCtes).
  private val qCsvSpots = QuerySpec.of(
    "q_csv_spots",
    s"""WITH ${SkiQueries.spotOracleCtes}
      |SELECT node_id, spot_type,
      |  concat_ws(',', id, spot_type, printf('%.6f', lon), printf('%.6f', lat),
      |    '', '', '', '', '', coalesce(dismount, ''), coalesce(name, ''),
      |    coalesce(position, ''), ${sqlYn("entry")}, ${sqlYn("exit")}) AS line
      |FROM sfmt ORDER BY node_id, spot_type""".stripMargin) { (s, d) =>
    SkiQueries.formattedSpots(s, d)
      .select(col("node_id"), col("spot_type"), concat_ws(",",
        col("id"), col("spot_type"),
        format_string("%.6f", col("lon")),
        format_string("%.6f", col("lat")),
        lit(""), lit(""), lit(""), lit(""), lit(""),
        coalesce(col("dismount"), lit("")), coalesce(col("name"), lit("")),
        coalesce(col("position"), lit("")),
        yn(col("entry")), yn(col("exit"))).as("line"))
      .orderBy("node_id", "spot_type")
  }

  // ---- P5: MapboxGL ski-area properties -----------------------------------
  // MapboxGLFormatter.formatSkiArea (MapboxGLFormatter.ts:204-245):
  // shortened name (>20 chars → cut at first '(' and trim), rounded
  // per-activity distances (null when the activity block is absent),
  // maxElevation/vertical with JS-truthy zero-is-missing, has_downhill/
  // has_nordic present only for the area's activities, geometry reduced
  // to the central point (the anchor point for these synthetic areas).
  // A third of the areas get a long parenthesized name so the
  // shortening path actually fires.
  private val qGlSkiAreas = QuerySpec.of(
    "q_mapbox_ski_areas", {
      s"""WITH ${SkiQueries.oraclePrelude},
        |${Statistics.statsOracleCtes},
        |nm AS (
        |  SELECT a.area_id, a.act, a.fid, a.alon, a.alat, adp.dkm, adp.nkm,
        |    el.mn, el.mx,
        |    CASE WHEN a.area_id % 3 = 0
        |      THEN 'Area #' || CAST(a.area_id AS VARCHAR)
        |        || ' Grand Resort (Main Sector)'
        |      ELSE 'Area #' || CAST(a.area_id AS VARCHAR) END AS raw_name
        |  FROM areas a LEFT JOIN adp USING (area_id)
        |  LEFT JOIN el USING (area_id))
        |SELECT area_id, fid AS id,
        |  CASE WHEN len(raw_name) > 20
        |    THEN trim(string_split(raw_name, '(')[1])
        |    ELSE raw_name END AS name,
        |  'operating' AS status,
        |  CASE WHEN dkm IS NOT NULL
        |    THEN CAST(floor(dkm + 0.5) AS BIGINT) END AS downhill_distance,
        |  CASE WHEN nkm IS NOT NULL
        |    THEN CAST(floor(nkm + 0.5) AS BIGINT) END AS nordic_distance,
        |  CASE WHEN mx IS NOT NULL
        |    THEN CAST(floor(mx + 0.5) AS BIGINT) END AS max_elevation,
        |  CASE WHEN mn IS NOT NULL AND mx IS NOT NULL
        |    THEN CAST(floor(mx - mn + 0.5) AS BIGINT) END AS vertical,
        |  CASE WHEN act = 'downhill' THEN true END AS has_downhill,
        |  CASE WHEN act = 'nordic' THEN true END AS has_nordic,
        |  (floor((alon) * 1e6 + 0.5) / 1e6) AS lon, (floor((alat) * 1e6 + 0.5) / 1e6) AS lat
        |FROM nm ORDER BY area_id""".stripMargin
    }) { (s, d) =>
    val af = Statistics.areaFrames(s, d)
    def jsRound(c: Column) = floor(c + 0.5).cast("long")
    val rawName = when(pmod(col("area_id"), lit(3)) === 0,
        concat(lit("Area #"), col("area_id"),
          lit(" Grand Resort (Main Sector)")))
      .otherwise(concat(lit("Area #"), col("area_id")))
    af.areas
      .join(af.activityKm, Seq("area_id"), "left")
      .join(af.elevation, Seq("area_id"), "left")
      .withColumn("raw_name", rawName)
      .select(col("area_id"), col("fid").as("id"),
        shortenedName(col("raw_name")).as("name"),
        lit("operating").as("status"),
        when(col("dkm").isNotNull, jsRound(col("dkm")))
          .as("downhill_distance"),
        when(col("nkm").isNotNull, jsRound(col("nkm"))).as("nordic_distance"),
        when(col("mx").isNotNull, jsRound(col("mx"))).as("max_elevation"),
        when(col("mn").isNotNull && col("mx").isNotNull,
          jsRound(col("mx") - col("mn"))).as("vertical"),
        when(col("act") === "downhill", true).as("has_downhill"),
        when(col("act") === "nordic", true).as("has_nordic"),
        (floor((col("alon")) * 1e6 + 0.5) / 1e6).as("lon"), (floor((col("alat")) * 1e6 + 0.5) / 1e6).as("lat"))
      .orderBy("area_id")
  }

  // ---- P5: MapboxGL spot properties ---------------------------------------
  // MapboxGLFormatter.formatSpot (MapboxGLFormatter.ts:153-196): base
  // {id, spotType, skiAreas} plus lift-station {name, liftId, position,
  // entry, exit} or crossing {dismount}; the transceiver/halfpipe types
  // carry base properties only (null type-specific columns here). The
  // point rounds to 1e-6°.
  private val qGlSpots = QuerySpec.of(
    "q_mapbox_spots",
    s"""WITH ${SkiQueries.spotOracleCtes}
      |SELECT node_id, spot_type, id, name, lift_id, position, entry, exit,
      |  dismount, (floor(lon * 1e6 + 0.5) / 1e6) AS lon,
      |  (floor(lat * 1e6 + 0.5) / 1e6) AS lat
      |FROM sfmt ORDER BY node_id, spot_type""".stripMargin) { (s, d) =>
    SkiQueries.formattedSpots(s, d)
      .select(col("node_id"), col("spot_type"), col("id"), col("name"),
        col("lift_id"), col("position"), col("entry"), col("exit"),
        col("dismount"), (floor(col("lon") * 1e6 + 0.5) / 1e6).as("lon"),
        (floor(col("lat") * 1e6 + 0.5) / 1e6).as("lat"))
      .orderBy("node_id", "spot_type")
  }

  // ---- P6: CSV place splitting --------------------------------------------
  // extractPlaces (CSVFormatter.ts:338-355): per feature the places
  // list splits into three columns — unique non-null countries,
  // regions, localities, each sorted and ';'-joined, then
  // CSV-escaped. Places come from the E3 reverse-geocode of the run's
  // vertices (same sampled set and place stub as q_ski_geocode, where
  // '~' encodes a null field).
  private val qCsvRunPlaces = QuerySpec.of(
    "q_csv_run_places", {
      val (lonN, latN, iv, gh) =
        graft.functions.GeoFunctions.sqlGeohash6("(p).lon", "(p).lat")
      def field(i: Int) =
        s"CASE WHEN string_split(place, '/')[$i] <> '~' " +
          s"THEN string_split(place, '/')[$i] END"
      def joined(i: Int) = {
        val j = "coalesce(array_to_string(list_sort(list_distinct(" +
          s"list(${field(i)}) FILTER (${field(i)} IS NOT NULL))), ';'), '')"
        // escapeField AFTER the ';' join — multi-value fields always
        // quote (the join separator is itself an escape trigger)
        s"""CASE WHEN regexp_matches($j, '[,";\\n\\r]')
           | THEN '"' || replace($j, '"', '""') || '"' ELSE $j END"""
          .stripMargin.replaceAll("\n", " ")
      }
      s"""WITH ${SkiQueries.oraclePrelude},
        |pts AS (
        |  SELECT way_id, p FROM kept,
        |    unnest([{'lon': lon0, 'lat': lat0},
        |            {'lon': lon0 + dx, 'lat': lat0 + dy},
        |            {'lon': lon0 + dx * 2, 'lat': lat0 + dy}]) AS u(p)
        |  WHERE way_id % 13 = 0),
        |g1 AS (SELECT way_id, $lonN AS lonN, $latN AS latN FROM pts),
        |g2 AS (SELECT way_id, $iv AS iv FROM g1),
        |g3 AS (SELECT way_id, $gh AS key FROM g2),
        |resolved AS (
        |  SELECT way_id, ${Geocoding.sqlStubPlaceFor("key")} AS place
        |  FROM g3)
        |SELECT way_id,
        |  ${joined(3)} AS countries,
        |  ${joined(2)} AS regions,
        |  ${joined(1)} AS localities
        |FROM resolved GROUP BY way_id ORDER BY way_id""".stripMargin
    }) { (s, d) =>
    val pts = SkiQueries.formatted(s, d).filter(col("kept"))
      .filter(pmod(col("way_id"), lit(13)) === 0)
      .select(col("way_id"), explode(col("coords")).as("p"))
      .select(col("way_id"),
        graft.functions.GeoFunctions.geohash6(element_at(col("p"), 1),
          element_at(col("p"), 2)).as("key"))
      .withColumn("place", Geocoding.stubPlaceFor(col("key")))
      .withColumn("parts", split(col("place"), "/"))
    def fieldCol(i: Int) = {
      val v = col("parts").getItem(i - 1)
      when(v =!= "~", v)
    }
    // collect_list skips nulls, matching the reference's
    // .filter((c) => c) before the unique/sort/join
    def joinedCol(i: Int) = esc(coalesce(array_join(
      array_sort(array_distinct(collect_list(fieldCol(i)))), ";"), lit("")))
    pts.groupBy("way_id")
      .agg(joinedCol(3).as("countries"), joinedCol(2).as("regions"),
        joinedCol(1).as("localities"))
      .orderBy("way_id")
  }

  val specs: Seq[QuerySpec] =
    Seq(qGlRuns, qGlLifts, qCsvRuns, qCsvLifts, qCsvSkiAreas, qCsvSpots,
      qGlSkiAreas, qGlSpots, qCsvRunPlaces)
}
