package graft.operators

import graft.functions.{HashFunctions, LiftTagsKernel, RunTagsExpr,
  RunTagsKernel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The feature formatters (SURVEY P1-P4): the reference's per-record
  * normalization of runs (`reference/src/transforms/RunFormatter.ts:30-189`),
  * lifts, ski areas and spots, each with a content-hash id (P11,
  * `FeatureBuilder.ts:4-21`).
  *
  * The run, lift and OSM ski-area tag cascades are single-pass kernels
  * over the OSM tag rules of [[graft.functions.OsmTags]]; every
  * formatter is one map stage, no shuffle.
  */
object Formatters {

  /** P1 multi-part explode (`reference/src/transforms/RunFormatter.ts:83-99`):
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

  /** Lift formatter (SURVEY P2,
    * `reference/src/transforms/LiftFormatter.ts:27-155`): the tag
    * cascade runs through the single-pass kernel
    * [[graft.functions.LiftTagsKernel]] (see its doc for the rules),
    * which is null for a dropped lift. Input: (lift_id, tags, ...); the
    * other input columns pass through.
    */
  def formatLifts(features: DataFrame): DataFrame = {
    val k = RunTagsExpr.on(col("tags"), LiftTagsKernel)
    val fields = LiftTagsKernel.schema.fieldNames
    features
      .withColumn("__lt", k)
      .filter(col("__lt").isNotNull)
      .select(features.columns.filter(_ != "tags").map(col).toSeq ++
        fields.map(f => col(s"__lt.$f").as(f)) :+
        HashFunctions.contentId(lit("lift"), col("lift_id"),
          col("__lt.status"), col("__lt.lift_type"), col("__lt.name"))
          .as("id"): _*)
  }

  val ValidStationPositions: Seq[String] = Seq("top", "mid", "bottom")

  /** P3: the three-source ski-area formatter as ONE distinct operator
    * (`reference/src/transforms/SkiAreaFormatter.ts:32-192`) —
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
    import graft.functions.{AreaTagsKernel, LanduseTagsKernel, SiteTagsKernel}
    val noActs = array().cast("array<string>")
    // the kernel is null for an area the reference drops: a dropped
    // status (an absent key is "operating", and KEPT —
    // SkiAreaFormatter.ts:95-97) or, on landuse, a non-ski sport
    def osm(df: DataFrame, kernel: AreaTagsKernel,
        srcId: Column, runConvention: Column, lon: Column, lat: Column) = df
      .withColumn("__at", RunTagsExpr.on(col("tags"), kernel))
      .filter(col("__at").isNotNull)
      .select(lit("openstreetmap").as("source"), srcId.as("src_id"),
        col("__at.status").as("status"), col("__at.name").as("name"),
        col("__at.website").as("website"),
        col("__at.wikidata_id").as("wikidata_id"),
        runConvention.as("run_convention"), noActs.as("activities"),
        lon.as("lon"), lat.as("lat"))
    val lon0 = element_at(element_at(col("coords"), 1), 1)
    val lat0 = element_at(element_at(col("coords"), 1), 2)
    val lu = osm(
      landuse.filter(col("geomType").isin("Polygon", "MultiPolygon") &&
        ringValid(force2D(col("coords")))),
      LanduseTagsKernel, concat(lit("way/"), col("area_id")),
      OutputFormats.difficultyConvention(lon0, lat0), lon0, lat0)
    val si = osm(sites, SiteTagsKernel,
      concat(lit("relation/"), col("site_id")), lit("north_america"),
      lit(360.0), lit(360.0))
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

  /** Spot formatter (SURVEY P4,
    * `reference/src/transforms/SpotFormatter.ts:30-192`): ONE
    * input node can emit up to 5 spots — crossing, lift station (with
    * validated top/mid/bottom position), transceiver training,
    * transceiver checkpoint, halfpipe — each gated by its own tag
    * predicate. Input: (node_id, tags); output one row per emitted
    * spot (node_id, spot_type, position). Every spot sink reads it
    * through `SkiQueries.formattedSpots`, which adds the attributes the
    * sinks render.
    */
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
    val k = RunTagsExpr.on(col("tags"), RunTagsKernel)
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
