package graft.operators

import graft.functions.HashFunctions
import graft.functions.TagFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Run formatter (SURVEY P1): the reference's per-record normalization
  * (`/root/reference/src/transforms/RunFormatter.ts:30-189`) as one
  * declarative select over (way_id, tags, coords) —
  * lifecycle status (P7), `piste:type` list → validated uses,
  * difficulty validation, grooming normalization + defaulting, gladed
  * fallback from `natural=wood`/`landuse=forest`, oneway default for
  * downhill, patrolled/snowmaking/snowfarming/tunnel/lit booleans,
  * name/ref extraction with ref-prefix strip, website/wikidata, and a
  * content-hash id (P11, `FeatureBuilder.ts:4-21`).
  *
  * Everything is a column expression → single map stage, no shuffle,
  * predicate pushdown unobstructed.
  */
object Formatters {

  /** P1 multi-part explode (`/root/reference/src/transforms/RunFormatter.ts:83-99`):
    * the reference emits one feature per part of a MultiLineString /
    * MultiPolygon run, recomputing the content-hash id per part. Input
    * rows carry the full canonical geometry (geomType, parts) from
    * `GeoJson.decodeFeaturesFull`; output has one row per part with
    * `part_no`, the singular `geomType`, and that part's rings. All
    * other columns pass through. Pure generator — `posexplode`, no
    * shuffle.
    */
  def explodeParts(df: DataFrame): DataFrame = {
    val passThrough = df.columns.filterNot(Seq("geomType", "parts").contains)
      .map(col).toSeq
    df.select(passThrough ++ Seq(col("geomType"),
        posexplode(col("parts")).as(Seq("part_no", "part"))): _*)
      .withColumn("geomType",
        when(col("geomType") === "MultiPolygon", "Polygon")
          .when(col("geomType") === "MultiLineString", "LineString")
          .otherwise(col("geomType")))
  }

  /** openskidata-format LiftType enum values. */
  val ValidLiftTypes: Seq[String] = Seq("cable_car", "gondola", "chair_lift",
    "mixed_lift", "drag_lift", "t-bar", "j-bar", "platter", "rope_tow",
    "magic_carpet", "funicular", "railway")

  /** railway= values that map to LiftType.Railway
    * (`LiftFormatter.ts:120-133`; funicular stays its own lift type).
    */
  val RailwayTypes: Seq[String] = Seq("narrow_gauge", "rail", "light_rail",
    "tram", "subway", "monorail")

  /** Lift formatter (SURVEY P2,
    * `/root/reference/src/transforms/LiftFormatter.ts:27-155`):
    * lifecycle status over `aerialway`, falling back to `railway` when
    * the aerialway VALUE is null (rail values → "railway", funicular
    * kept); drop predicate per `LiftFormatter.ts:42-53` (passenger=no,
    * access=no/forestry, foot=no/private, usage=freight/industrial,
    * railway:traffic_mode=freight — access=private is NOT dropped, it
    * becomes the `access` column); `aerialway:duration`
    * "mm:ss"-or-minutes → seconds (null unless exactly 2 components);
    * occupancy/capacity numbers; bubble/heating/detachable booleans;
    * name with ref-prefix strip.
    * Input: (lift_id, tags map).
    */
  def formatLifts(features: DataFrame): DataFrame = {
    val tags = col("tags")
    val dropPred =
      element_at(tags, "passenger") === "no" ||
        element_at(tags, "access").isin("forestry", "no") ||
        element_at(tags, "foot").isin("no", "private") ||
        element_at(tags, "usage").isin("freight", "industrial") ||
        element_at(tags, "railway:traffic_mode") === "freight"

    val useRail = col("ast").getField("value").isNull
    val st = when(useRail, col("rst")).otherwise(col("ast"))
    val rawType = col("st").getField("value")
    val mappedType = when(col("useRail") &&
        rawType.isin(RailwayTypes.map(x => x: Any): _*), lit("railway"))
      .otherwise(rawType)
    val liftType =
      when(mappedType.isin(ValidLiftTypes.map(x => x: Any): _*), mappedType)

    val dur = element_at(tags, "aerialway:duration")
    // LiftFormatter.mapDuration parity: isNumeric(s) (= whole string is
    // a finite JS Number AND parseFloat parses) → Math.round(parseFloat
    // (s)*60); else "a:b" with exactly 2 components → parseInt each
    // (prefix parse; either NaN → null); anything else (incl. "h:m:s")
    // → null. Regex-gated casts so ANSI mode never throws.
    val durNum = tagNumber(dur)
    val durPf = jsParseFloat(dur)
    val durFinite = durNum.isNotNull &&
      durNum =!= Double.PositiveInfinity && durNum =!= Double.NegativeInfinity
    val colonParts = split(dur, ":", -1)
    def parseIntPart(i: Int) = {
      val p = regexp_extract(colonParts.getItem(i),
        "^[\\s\\u00A0\\uFEFF]*([+-]?[0-9]+)", 1)
      when(p =!= "", p.cast("long"))
    }
    val durationS =
      when(durFinite && durPf.isNotNull,
        floor(durPf * 60 + 0.5).cast("long"))
      .when(size(colonParts) === 2,
        parseIntPart(0) * 60 + parseIntPart(1))

    val ref = osmRef(tags)

    features
      .filter(!coalesce(dropPred, lit(false)))
      .withColumn("ast", lifecycleStatus(tags, "aerialway"))
      .withColumn("rst", lifecycleStatus(tags, "railway"))
      .withColumn("useRail", useRail)
      .withColumn("st", st)
      .withColumn("status", col("st").getField("status"))
      .withColumn("lift_type", liftType)
      .filter(not(col("status") <=> "dropped") && col("lift_type").isNotNull)
      .withColumn("duration_s", durationS)
      .withColumn("occupancy",
        tagNumberInt(element_at(tags, "aerialway:occupancy")))
      .withColumn("capacity",
        tagNumberInt(element_at(tags, "aerialway:capacity")))
      .withColumn("bubble", tagBoolean(element_at(tags, "aerialway:bubble")))
      .withColumn("heating", tagBoolean(element_at(tags, "aerialway:heating")))
      .withColumn("detachable",
        tagBoolean(element_at(tags, "aerialway:detachable")))
      .withColumn("oneway", tagBoolean(element_at(tags, "oneway")))
      .withColumn("tunnel",
        when(element_at(tags, "tunnel").isNotNull, lit(true)))
      .withColumn("access",
        when(element_at(tags, "access") === "private", lit("private")))
      .withColumn("ref", ref)
      .withColumn("name", osmName(tags, "name", None, ref))
      .withColumn("wikidata_id", tagFirstValue(tags, "wikidata"))
      .withColumn("website", element_at(tags, "website"))
      .withColumn("id", HashFunctions.contentId(lit("lift"), col("lift_id"),
        col("status"), col("lift_type"), col("name")))
      .drop("ast", "rst", "useRail", "st", "tags")
  }

  val ValidStationPositions: Seq[String] = Seq("top", "mid", "bottom")

  /** Spot formatter (SURVEY P4,
    * `/root/reference/src/transforms/SpotFormatter.ts:30-192`): ONE
    * input node can emit up to 5 spots — crossing, lift station (with
    * validated top/mid/bottom position), transceiver training,
    * transceiver checkpoint, halfpipe — each gated by its own tag
    * predicate. Input: (node_id, tags); output one row per emitted
    * spot (node_id, spot_type, position).
    */
  /** P3: the three-source ski-area formatter as ONE distinct operator
    * (`/root/reference/src/transforms/SkiAreaFormatter.ts:32-192`) —
    * a union of three typed projections:
    *
    *  - OSM landuse (`:66-109`): kept only when `sport` is absent or
    *    skiing/ski, geometry is Polygon/MultiPolygon AND valid
    *    (turf booleanValid → the P12 ring predicates), and the
    *    lifecycle cascade on the `landuse` key yields a status;
    *  - OSM site relation (`:111-136`): lifecycle on the `site` key;
    *    geometry is the reference's literal placeholder Point
    *    [360, 360, id] (`PlaceholderSiteGeometry.ts:3-5`) and the run
    *    convention the placeholder `north_america`, both overwritten
    *    later by clustering;
    *  - Skimap.org (`:138-145`, `:175-192`): name/activities/status
    *    carried through from the upstream properties, website from
    *    `official_website`, wikidata always null.
    *
    * Output: source, src_id, status, name, website, wikidata_id,
    * run_convention, activities, lon, lat, id (content hash).
    *
    * Inputs: landuse (area_id, tags, geomType, coords); sites
    * (site_id, tags); skimap (sm_id, name, activities, status,
    * website, lon, lat).
    */
  def formatSkiAreas(landuse: DataFrame, sites: DataFrame,
      skimap: DataFrame): DataFrame = {
    import graft.functions.GeoFunctions._
    val tags = col("tags")
    val noActs = array().cast("array<string>")
    // Status.ts returns null status ONLY for the unsupported states
    // (demolished/removed/razed) — our cascade reports those as
    // "dropped"; an absent key is status "operating" with null value,
    // and the reference KEEPS such features (`if (status === null)
    // return null` is the only gate, SkiAreaFormatter.ts:95-97).
    def keptStatus(df: DataFrame, key: String) = df
      .withColumn("st", lifecycleStatus(tags, key))
      .withColumn("status", col("st").getField("status"))
      .filter(not(col("status") <=> "dropped"))
    val lu = keptStatus(
      landuse
        .filter(element_at(tags, "sport").isNull ||
          element_at(tags, "sport").isin("skiing", "ski"))
        .filter(col("geomType").isin("Polygon", "MultiPolygon"))
        .filter(ringValid(force2D(col("coords")))), "landuse")
      .select(lit("openstreetmap").as("source"),
        concat(lit("way/"), col("area_id")).as("src_id"),
        col("status"),
        osmName(tags, "name").as("name"),
        element_at(tags, "website").as("website"),
        tagFirstValue(tags, "wikidata").as("wikidata_id"),
        OutputFormats.difficultyConvention(
          element_at(element_at(col("coords"), 1), 1),
          element_at(element_at(col("coords"), 1), 2)).as("run_convention"),
        noActs.as("activities"),
        element_at(element_at(col("coords"), 1), 1).as("lon"),
        element_at(element_at(col("coords"), 1), 2).as("lat"))
    val si = keptStatus(sites, "site")
      .select(lit("openstreetmap").as("source"),
        concat(lit("relation/"), col("site_id")).as("src_id"),
        col("status"),
        osmName(tags, "name").as("name"),
        element_at(tags, "website").as("website"),
        tagFirstValue(tags, "wikidata").as("wikidata_id"),
        lit("north_america").as("run_convention"),
        noActs.as("activities"),
        lit(360.0).as("lon"), lit(360.0).as("lat"))
    val sm = skimap
      .select(lit("skimap_org").as("source"),
        col("sm_id").cast("string").as("src_id"),
        col("status"),
        col("name"),
        col("website"),
        lit(null).cast("string").as("wikidata_id"),
        OutputFormats.difficultyConvention(col("lon"), col("lat"))
          .as("run_convention"),
        col("activities"),
        col("lon"), col("lat"))
    lu.unionByName(si).unionByName(sm)
      .withColumn("id", HashFunctions.contentId(lit("skiArea"),
        col("source"), col("src_id"), col("status"), col("name")))
  }

  def formatSpots(features: DataFrame): DataFrame = {
    val tags = col("tags")
    def cand(cond: Column, t: String, pos: Column) =
      when(cond, struct(lit(t).as("spot_type"), pos.as("position")))
    val noPos = lit(null).cast("string")
    val stationPos = {
      val p = element_at(tags, "aerialway:station")
      when(p.isin(ValidStationPositions.map(x => x: Any): _*), p)
    }
    val candidates = array(
      cand(element_at(tags, "ski") === "crossing", "crossing", noPos),
      cand(element_at(tags, "aerialway") === "station", "lift_station",
        stationPos),
      cand(element_at(tags, "avalanche_transceiver") === "training",
        "avalanche_transceiver_training", noPos),
      cand(element_at(tags, "avalanche_transceiver") === "checkpoint",
        "avalanche_transceiver_checkpoint", noPos),
      cand(element_at(tags, "halfpipe") === "yes", "halfpipe", noPos))
    features
      .select(col("node_id"),
        explode(filter(candidates, c => c.isNotNull)).as("spot"))
      .select(col("node_id"), col("spot.spot_type"), col("spot.position"))
  }

  /** P1: see object doc. Emits every non-dropped feature with a `kept`
    * flag (status=operating AND ≥1 valid use) — the reference drops
    * non-kept features outright; keeping them visible exercises the
    * full cascade under the oracle.
    *
    * The tag cascade runs through the single-pass native kernel
    * [[graft.functions.RunTagsExpr]] (one map traversal per row; see
    * the kernel doc for the rules). RunTagsSpec pins its rows and
    * schema to golden data from the expression-tree formatter it
    * replaced.
    */
  def formatRuns(features: DataFrame): DataFrame = {
    val k = graft.functions.RunTagsExpr.runTags(col("tags"))
    features
      .withColumn("__rt", k)
      .filter(not(col("__rt.st_status") <=> "dropped"))
      .withColumn("uses", col("__rt.uses"))
      .withColumn("difficulty", col("__rt.difficulty"))
      .withColumn("grooming", col("__rt.grooming"))
      .withColumn("gladed", col("__rt.gladed"))
      .withColumn("oneway", col("__rt.oneway"))
      .withColumn("patrolled", col("__rt.patrolled"))
      .withColumn("snowmaking", col("__rt.snowmaking"))
      .withColumn("snowfarming", col("__rt.snowfarming"))
      .withColumn("tunnel", col("__rt.tunnel"))
      .withColumn("lit", col("__rt.lit"))
      .withColumn("ref", col("__rt.ref"))
      .withColumn("name", col("__rt.name"))
      .withColumn("website", col("__rt.website"))
      .withColumn("wikidata_id", col("__rt.wikidata_id"))
      .withColumn("status", col("__rt.status"))
      .withColumn("kept", col("status") === "operating" && size(col("uses")) > 0)
      .withColumn("id", HashFunctions.contentId(lit("run"), col("way_id"),
        col("status"), concat_ws(";", col("uses")), col("difficulty"),
        col("name")))
      .drop("__rt", "tags")
  }

  /** A synthesized ski area's id (P11): the hash of its key alone. */
  def synthAreaId(areaId: Column): Column =
    HashFunctions.contentId(lit("skiArea"), areaId)

  /** A spot's id: one per (node, spot type) [[formatSpots]] emits. */
  def spotId(nodeId: Column, spotType: Column): Column =
    HashFunctions.contentId(lit("spot"), nodeId, spotType)

  /** DuckDB twins of the `id` columns: the content-id parts of a run
    * ([[formatRuns]]), a lift ([[formatLifts]]), a formatted ski area
    * ([[formatSkiAreas]]), a synthesized one ([[synthAreaId]]) and a
    * spot ([[spotId]]), over the oracles' formatted columns.
    */
  object sql {
    val runId: String = HashFunctions.sqlContentId("'run'", "way_id",
      "status", "array_to_string(uses, ';')", "difficulty", "name")
    val liftId: String = HashFunctions.sqlContentId("'lift'", "lift_id",
      "status", "lift_type", "name")
    val skiAreaId: String = HashFunctions.sqlContentId("'skiArea'", "source",
      "src_id", "status", "name")
    def synthAreaId(areaId: String): String =
      HashFunctions.sqlContentId("'skiArea'", areaId)
    def spotId(nodeId: String, spotType: String): String =
      HashFunctions.sqlContentId("'spot'", nodeId, spotType)
  }
}
