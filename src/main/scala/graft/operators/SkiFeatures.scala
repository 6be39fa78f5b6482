package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic OSM-like feature synthesis from the driver-provided
  * tables (TESTDATA.md forbids bringing our own inputs), so the ski
  * formatter/geometry/clustering operators run against real
  * DataFrames at every scale factor and stay oracle-checkable: the
  * DuckDB oracle re-derives the same features from the flat columns
  * with plain CASE SQL, independent of the tag-map machinery here.
  *
  * One lineitem row → one candidate run feature:
  *  - `way_id`   = l_orderkey·10 + l_linenumber
  *  - `tags`     = OSM tag map exercising the full lifecycle cascade
  *                 (P7 Status.ts order: dropped base values, bare
  *                 removed=yes, value-is-state, prefixed-only-when-base-
  *                 absent, bare state=yes), uses list parsing (P1),
  *                 difficulty/grooming rules incl. ';'→'+' combination
  *                 and invalid-value difficulty default, gladed priority
  *                 piste:gladed > gladed > natural/landuse, oneway
  *                 priority piste:oneway > oneway > downhill default,
  *                 patrolled/snowmaking/snowfarming/tunnel/lit, name
  *                 rootKey piste:name with fallback name + ref-prefix
  *                 strip (P9), ref selection (P8), website/wikidata
  *  - `coords`   = 3-point LineString near the order's [[anchorLon]] /
  *                 [[anchorLat]] anchor, with z from the part/quantity
  *                 columns. The anchor latitude lies in [-60, 60) by
  *                 construction (a run's points at most 0.0015° north
  *                 of it); GridJoin's walk widens with latitude,
  *                 while the oracles' fixed ±1 walk
  *                 ([[GridJoin.sqlWalk]]) is exact at 500 m on the 0.01°
  *                 grid only up to about |lat| 63°
  *
  * This object also owns the rest of the synthesized ski world, so
  * every query reads one copy of it: the per-key anchor, the ski areas
  * ([[areas]], every 37th order), their hexagon outlines ([[hexRing]]),
  * the lifts ([[isLift]], every 23rd order; [[liftLine]],
  * [[liftNodes]]) and the grid join's [[CellDeg]] / [[RadiusM]]; [[sql]]
  * is the DuckDB twin the oracles interpolate.
  *
  * Lifecycle encoding (lifecycle = l_linenumber % 7):
  *  0  piste:type=uses + piste:abandoned=yes        → abandoned
  *  1  proposed:piste:type=uses (base absent)       → proposed
  *  2  piste:type="disused" + disused=uses          → disused
  *  3  l_partkey even: piste:type="demolished"      → dropped
  *     l_partkey odd:  piste:type=uses + removed=yes → dropped
  *  4  piste:type=uses + proposed:piste:type=junk   → operating
  *     (prefixed keys ignored when the base key is present)
  *  5  piste:type=uses + construction=no            → operating
  *     (bare state tags only fire on =yes)
  *  6  piste:type=uses                              → operating
  */
object SkiFeatures {

  val ValidUses: Seq[String] = Seq("downhill", "nordic", "skitour",
    "snow_park", "connection", "hike", "sled", "fatbike", "other")

  val ValidDifficulties: Seq[String] = Seq("novice", "easy", "intermediate",
    "advanced", "expert", "freeride", "extreme")

  val ValidGrooming: Seq[String] = Seq("classic", "skating",
    "classic+skating", "mogul", "scooter", "backcountry")

  /** Cell size and proximity radius of the synthesized world's grid
    * joins (anchors and run starts within 500 m).
    */
  val CellDeg = 0.01
  val RadiusM = 500.0

  /** The deterministic anchor of a key (orders, lifts, spots, parts,
    * customers): a longitude in [-180, 180) and a latitude in
    * [-60, 60), spread by two primes.
    */
  def anchorLon(key: Column): Column =
    pmod(key * 7919, lit(360000)).cast("double") / 1000.0 - 180.0
  def anchorLat(key: Column): Column =
    pmod(key * 104729, lit(120000)).cast("double") / 1000.0 - 60.0

  /** Whether an orders key is a ski area: every 37th order. */
  def isArea(key: Column): Column = pmod(key, lit(37)) === 0

  /** The synthesized ski areas at their anchors, downhill when the key
    * is even and nordic otherwise — (area_id, act, lon, lat).
    */
  def areas(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    Tables.orders(s, d).filter(isArea(k))
      .select(k.as("area_id"),
        when(pmod(k, lit(2)) === 0, "downhill").otherwise("nordic").as("act"),
        anchorLon(k).as("lon"), anchorLat(k).as("lat"))
  }

  /** Whether an orders key is a lift: every 23rd order. */
  def isLift(key: Column): Column = pmod(key, lit(23)) === 0

  /** A lift's line over an orders row (`key`, `custKey`), from its
    * anchor: two steps of (ldx, ldy) (the second flat), climbing from
    * `z0` by `rise` per step. The columns ldx, ldy, `z0` (named by the
    * caller) and rise, in that order.
    */
  def liftLine(key: Column, custKey: Column, z0: String = "z0"): Seq[Column] =
    Seq(((pmod(key, lit(4)) + 1).cast("double") * 0.0012).as("ldx"),
      ((pmod(key, lit(3)) + 1).cast("double") * 0.0004).as("ldy"),
      pmod(key, lit(2500)).cast("double").as(z0),
      (pmod(custKey, lit(400)) + 50).cast("double").as("rise"))

  /** The lifts as clustering nodes — (oid, act, lon, lat, is_lift):
    * downhill at the anchor, the object id the key + 100000000, apart
    * from the runs' way ids (order key·10 + line) below 10M orders.
    */
  def liftNodes(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    Tables.orders(s, d).filter(isLift(k))
      .select((k + 100000000L).as("oid"), lit("downhill").as("act"),
        anchorLon(k).as("lon"), anchorLat(k).as("lat"))
      .withColumn("is_lift", lit(true))
  }

  /** An area's hexagon outline around (lon, lat): six (lon, lat)
    * vertices, vertex k at radius scale·(1 + 0.3·((id + k) mod 3))
    * degrees and angle 60°·k, so the rings are convex but irregular.
    */
  def hexRing(id: Column, lon: Column, lat: Column,
      scale: Double): Seq[(Column, Column)] = {
    val sqrt32 = sqrt(lit(3.0)) / 2
    val cosK = Seq(lit(1.0), lit(0.5), lit(-0.5), lit(-1.0), lit(-0.5), lit(0.5))
    val sinK = Seq(lit(0.0), sqrt32, sqrt32, lit(0.0), -sqrt32, -sqrt32)
    (0 until 6).map { k =>
      val r = lit(scale) * (lit(1.0)
        + pmod(id + k, lit(3)).cast("double") * lit(0.3))
      (lon + r * cosK(k), lat + r * sinK(k))
    }
  }

  /** A synthesized run's geometry over a lineitem row: way id, start
    * point and per-vertex step (shared with MultiPart's line parts).
    */
  private[operators] val wayId =
    (col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
  private[operators] val lon0 =
    anchorLon(col("l_orderkey")) + col("l_linenumber") * 0.001
  private[operators] val lat0 = anchorLat(col("l_orderkey"))
  private[operators] val dx = (pmod(wayId, lit(5)) + 1).cast("double") * 0.001
  private[operators] val dy = (pmod(wayId, lit(3)) + 1).cast("double") * 0.0005

  /** Scaffold key covering both input tables, fingerprinted so data
    * regenerated at the same path invalidates the artifact.
    */
  private[operators] def scaffoldKey(s: SparkSession, d: String): String =
    graft.Tables.fingerprint(s, d, "lineitem") + "|" +
      graft.Tables.fingerprint(s, d, "part")

  /** way_id, tags (map), coords: a lazy plan, never materialized (see
    * the trailing comment). The tag map comes from the native
    * [[graft.functions.SynthTagsExpr]] kernel in one call per row: the
    * 27-entry CreateMap-of-when-cascades it replaced generated so much
    * Java that the whole-stage-codegen span passed HotSpot's
    * huge-method JIT limit and ran bytecode-interpreted (measured 4×
    * on the whole 6M-row stage; see the kernel doc). SynthTagsSpec pins
    * the map to golden data that CreateMap form produced.
    */
  def synthesize(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val part = Tables.part(s, d).select("p_partkey", "p_name", "p_brand")
    val tags = graft.functions.SynthTagsExpr.synthTags(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("p_name"), col("p_brand"))

    val z0 = pmod(wayId, lit(3000)).cast("double")
    val coords = array(
      array(lon0, lat0, z0),
      array(lon0 + dx, lat0 + dy, z0 + col("l_quantity")),
      array(lon0 + dx * 2, lat0 + dy, z0 + col("l_quantity") * 2))

    // repartition: the source is one small parquet file (single input
    // split) — fan out before the per-row projection; the shuffle
    // carries the NARROW raw li/part columns, never the built map.
    //
    // No checkpoint here since round 19: materializing the 27-entry
    // tag map cost ~67 s at sf1/local[4] (serialize + store ~6M fat
    // rows) and BOTH consumers discard it immediately — `formatted`
    // feeds it straight into the single-pass RunTagsExpr kernel (the
    // synthesized map inlines into the kernel's child: built once per
    // row, consumed once, never stored), and Enrichment reads only
    // way_id/coords (ColumnPruning now deletes the map from its plan
    // entirely). The materialization barrier every ski query shares
    // is one level up: SkiQueries.formatted's scaffold artifact of the
    // NARROW formatted columns.
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(wayId.as("way_id"), tags.as("tags"), coords.as("coords"))
  }

  /** DuckDB twin of the synthesis geometry (lon/lat/z expressions over
    * a joined lineitem×part row) and of the anchors, area filter and
    * hexagon rings, for oracle SQL composition.
    */
  object sql {
    def anchorLon(k: String): String =
      s"(CAST(($k * 7919) % 360000 AS DOUBLE) / 1000.0 - 180.0)"
    def anchorLat(k: String): String =
      s"(CAST(($k * 104729) % 120000 AS DOUBLE) / 1000.0 - 60.0)"
    /** The area filter over an orders key. */
    def isArea(k: String): String = s"$k % 37 = 0"
    /** [[SkiFeatures.areas]] as the oracles select it: (area_id, alon,
      * alat), with the activity `act` after area_id if `withAct`.
      */
    def areas(withAct: Boolean = false): String = {
      val act = if (withAct) "\n    CASE WHEN o_orderkey % 2 = 0 THEN " +
        "'downhill' ELSE 'nordic' END AS act," else ""
      s"""SELECT o_orderkey AS area_id,$act
         |    ${anchorLon("o_orderkey")} AS alon,
         |    ${anchorLat("o_orderkey")} AS alat
         |  FROM orders WHERE ${isArea("o_orderkey")}""".stripMargin
    }
    /** The lift filter over an orders key. */
    def isLift(k: String): String = s"$k % 23 = 0"

    /** The select items of [[SkiFeatures.liftLine]]. */
    def liftLine(k: String, custKey: String, z0: String = "z0"): String =
      s"""CAST(($k % 4 + 1) AS DOUBLE) * 0.0012 AS ldx,
         |    CAST(($k % 3 + 1) AS DOUBLE) * 0.0004 AS ldy,
         |    CAST($k % 2500 AS DOUBLE) AS $z0,
         |    CAST($custKey % 400 + 50 AS DOUBLE) AS rise""".stripMargin

    /** [[SkiFeatures.liftNodes]]: a SELECT of (oid, act, lon, lat, is_lift). */
    val liftNodes: String =
      s"""SELECT o_orderkey + 100000000 AS oid, 'downhill' AS act,
         |    ${anchorLon("o_orderkey")} AS lon,
         |    ${anchorLat("o_orderkey")} AS lat, true AS is_lift
         |  FROM orders WHERE ${isLift("o_orderkey")}""".stripMargin

    /** Vertex `k` of [[hexRing]] as (lon, lat), `k` (0..5) being a
      * column of the query.
      */
    def hexVertex(id: String, lon: String, lat: String,
        scale: Double): (String, String) = {
      val r = s"(CAST($scale AS DOUBLE) * (CAST(1 AS DOUBLE)" +
        s" + CAST(($id + k) % 3 AS DOUBLE) * CAST(0.3 AS DOUBLE)))"
      val sqrt32 = "sqrt(CAST(3 AS DOUBLE)) / 2"
      (s"$lon + $r * (CASE k WHEN 0 THEN CAST(1 AS DOUBLE)" +
        s" WHEN 1 THEN CAST(0.5 AS DOUBLE) WHEN 2 THEN CAST(-0.5 AS DOUBLE)" +
        s" WHEN 3 THEN CAST(-1 AS DOUBLE) WHEN 4 THEN CAST(-0.5 AS DOUBLE)" +
        s" ELSE CAST(0.5 AS DOUBLE) END)",
        s"$lat + $r * (CASE k WHEN 0 THEN CAST(0 AS DOUBLE)" +
          s" WHEN 1 THEN $sqrt32 WHEN 2 THEN $sqrt32 WHEN 3 THEN CAST(0 AS DOUBLE)" +
          s" WHEN 4 THEN -($sqrt32) ELSE -($sqrt32) END)")
    }

    val wayId = "(l_orderkey * 10 + l_linenumber)"
    val lon0 = s"(${anchorLon("l_orderkey")} + l_linenumber * 0.001)"
    val lat0 = anchorLat("l_orderkey")
    val dx = s"(CAST($wayId % 5 + 1 AS DOUBLE) * 0.001)"
    val dy = s"(CAST($wayId % 3 + 1 AS DOUBLE) * 0.0005)"
    val z0 = s"CAST($wayId % 3000 AS DOUBLE)"
    val usesRaw = "(CASE l_returnflag WHEN 'R' THEN 'downhill' " +
      "WHEN 'A' THEN 'Downhill;Nordic' ELSE 'nordic;junk' END)"
    val lifecycle = "(l_linenumber % 7)"
    val diffIdx = "(CAST(floor(l_quantity) AS BIGINT) % 9)"
    val groomIdx = "(CAST(floor(l_discount * 100) AS BIGINT) % 5)"
    val taxPct = "CAST(floor(l_tax * 100) AS BIGINT)"
  }
}
