package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *  - `coords`   = 3-point LineString near a deterministic per-order
  *                 anchor (lat clamped to ±60 so the 0.01° grid join's
  *                 3×3 neighborhood always covers a 500 m radius),
  *                 with z from the part/quantity columns
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

  private val memo =
    scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]()

  /** Memo key covering both input tables, fingerprinted so data
    * regenerated at the same path invalidates the entry (the same
    * invalidation contract as Similarity.planeCache).
    */
  private[operators] def memoKey(s: SparkSession, d: String): String =
    graft.Tables.fingerprint(s, d, "lineitem") + "|" +
      graft.Tables.fingerprint(s, d, "part")

  /** way_id, tags (map), coords — memoized + checkpointed (see the
    * trailing comment in [[build]]).
    */
  def synthesize(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, memoKey(s, d)), build(s, d))

  /** The synthesis plan, memo-free. The tag map comes from the native
    * [[graft.functions.SynthTagsExpr]] kernel in one call per row: the
    * 27-entry CreateMap-of-when-cascades it replaced generated so much
    * Java that the whole-stage-codegen span passed HotSpot's
    * huge-method JIT limit and ran bytecode-interpreted (measured 4×
    * on the whole 6M-row stage; see the kernel doc). SynthTagsSpec pins
    * the map to golden data that CreateMap form produced.
    */
  private[graft] def build(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val part = Tables.part(s, d).select("p_partkey", "p_name", "p_brand")
    val wayId = (col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
    val tags = graft.functions.SynthTagsExpr.synthTags(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("p_name"), col("p_brand"))

    val lon0 = (pmod(col("l_orderkey") * 7919, lit(360000)).cast("double")
      / 1000.0 - 180.0) + col("l_linenumber") * 0.001
    val lat0 = pmod(col("l_orderkey") * 104729, lit(120000)).cast("double") / 1000.0 - 60.0
    val dx = (pmod(wayId, lit(5)) + 1).cast("double") * 0.001
    val dy = (pmod(wayId, lit(3)) + 1).cast("double") * 0.0005
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
    // moved one level up, to SkiQueries.formatted's localCheckpoint
    // of the NARROW formatted columns.
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(wayId.as("way_id"), tags.as("tags"), coords.as("coords"))
  }

  /** DuckDB twin of the synthesis geometry (lon/lat/z expressions over
    * a joined lineitem×part row), for oracle SQL composition.
    */
  object sql {
    val wayId = "(l_orderkey * 10 + l_linenumber)"
    val lon0 =
      s"(CAST((l_orderkey * 7919) % 360000 AS DOUBLE) / 1000.0 - 180.0 + l_linenumber * 0.001)"
    val lat0 =
      s"(CAST((l_orderkey * 104729) % 120000 AS DOUBLE) / 1000.0 - 60.0)"
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
