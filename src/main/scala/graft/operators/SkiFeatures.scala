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

  /** `kernel = false` builds the tag map as the replaced 27-entry
    * CreateMap form: the value-identity reference SynthTagsSpec
    * compares the kernel against (private[graft], memo-free).
    */
  private[graft] def build(s: SparkSession, d: String,
      kernel: Boolean = true): DataFrame = {
    val li = Tables.lineitem(s, d)
    val part = Tables.part(s, d).select("p_partkey", "p_name", "p_brand")
    // Round 19: the 27-entry CreateMap-of-when-cascades generated so
    // much Java that the scaffold's whole-stage-codegen span exceeded
    // HotSpot's huge-method JIT limit and ran bytecode-interpreted
    // (measured 4× on the whole 6M-row stage; see SynthTagsExpr doc).
    // The native kernel emits the identical map (SynthTagsSpec pins
    // full map equality on real rows against `kernel = false`).
    val wayId = (col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
    val usesRaw =
      when(col("l_returnflag") === "R", "downhill")
        .when(col("l_returnflag") === "A", "Downhill;Nordic")
        .otherwise("nordic;junk")
    val lifecycle = pmod(col("l_linenumber"), lit(7))
    val pkEven = pmod(col("l_partkey"), lit(2)) === 0
    val diffIdx = pmod(floor(col("l_quantity")).cast("long"), lit(9))
    val difficultyRaw = (ValidDifficulties.zipWithIndex.foldRight(
      when(diffIdx === 7, "bogus")) { case ((v, i), acc) =>
      when(diffIdx === i, v).otherwise(acc)
    }) // idx 8 → null (absent)
    val groomIdx = pmod(floor(col("l_discount") * 100).cast("long"), lit(5))
    val groomingRaw =
      when(groomIdx === 0, "classic").when(groomIdx === 1, "classic;skating")
        .when(groomIdx === 2, "junk").when(groomIdx === 3, "no")
    // idx 4 → absent
    val taxPct = floor(col("l_tax") * 100).cast("long")
    val pisteGladed = when(taxPct === 1, "no")
    val gladedTag = when(taxPct === 1, "yes")
      .when(taxPct >= 5 && taxPct < 7, "yes")
      .when(taxPct >= 7 && taxPct < 8, "no")
    val natural = when(taxPct >= 8, "wood")
    val landuse = when(taxPct === 4, "forest")
    val ow5 = pmod(col("l_suppkey"), lit(5))
    val pisteOneway = when(ow5 === 0, "yes").when(ow5 === 1, "no")
    val onewayTag = when(pmod(col("l_suppkey"), lit(3)) === 0, "yes")
      .when(pmod(col("l_suppkey"), lit(3)) === 1, "no")
    val sup7 = pmod(col("l_suppkey"), lit(7))
    val pistePatrolled = when(sup7 === 0, "yes").when(sup7 === 2, "no")
    val patrolledTag = when(sup7 === 1, "no").when(sup7 === 2, "yes")
    val pk3 = pmod(col("l_partkey"), lit(3))
    val snowmaking = when(pk3 === 0, "yes").when(pk3 === 1, "no")
    val qk4 = pmod(floor(col("l_quantity")).cast("long"), lit(4))
    val snowfarming = when(qk4 === 0, "yes").when(qk4 === 1, "no")
    val ok11 = pmod(col("l_orderkey"), lit(11))
    val tunnel = when(ok11 === 0, "yes").when(ok11 === 1, "no")
    val ok13 = pmod(col("l_orderkey"), lit(13))
    val pisteLit = when(ok13 === 0, "yes")
    val litTag = when(ok13 === 1, "no")
    val refnum = pmod(col("l_partkey"), lit(50))
    val ref = concat(lit("R"), refnum.cast("string"))
    val pk4 = pmod(col("l_partkey"), lit(4))
    val pisteName = when(pk4 === 0,
      concat(ref, lit(" - "), col("p_name")))
    val pk5 = pmod(col("l_partkey"), lit(5))
    val website = when(pk5 === 0,
      concat(lit("https://example.com/"), wayId.cast("string")))
    val pk7 = pmod(col("l_partkey"), lit(7))
    val wikidata = when(pk7 === 0,
      concat(lit("Q"), wayId.cast("string"), lit(";Q999")))

    val kernelTags = graft.functions.SynthTagsExpr.synthTags(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("p_name"), col("p_brand"))

    val baseVal = when(lifecycle === 1, lit(null).cast("string"))
      .when(lifecycle === 2, lit("disused"))
      .when(lifecycle === 3 && pkEven, lit("demolished"))
      .otherwise(usesRaw)
    // plain CreateMap (codegen'd) with null values for absent tags —
    // element_at treats a null value and a missing key identically, so
    // no interpreted map_filter (CodegenFallback) is needed here.
    val tags = map(
        lit("piste:type"), baseVal,
        lit("piste:abandoned"), when(lifecycle === 0, "yes"),
        lit("proposed:piste:type"),
        when(lifecycle === 1, usesRaw).when(lifecycle === 4, "ignoredjunk"),
        lit("disused"), when(lifecycle === 2, usesRaw),
        lit("removed"), when(lifecycle === 3 && !pkEven, "yes"),
        lit("construction"), when(lifecycle === 5, "no"),
        lit("piste:difficulty"), difficultyRaw,
        lit("piste:grooming"), groomingRaw,
        lit("piste:gladed"), pisteGladed,
        lit("gladed"), gladedTag,
        lit("natural"), natural,
        lit("landuse"), landuse,
        lit("piste:oneway"), pisteOneway,
        lit("oneway"), onewayTag,
        lit("piste:patrolled"), pistePatrolled,
        lit("patrolled"), patrolledTag,
        lit("piste:snowmaking"), snowmaking,
        lit("piste:snowfarming"), snowfarming,
        lit("tunnel"), tunnel,
        lit("piste:lit"), pisteLit,
        lit("lit"), litTag,
        lit("piste:name"), pisteName,
        lit("name"), col("p_name"),
        lit("name:xx"), col("p_brand"),
        lit("website"), website,
        lit("wikidata"), wikidata,
        lit("piste:ref"), ref)

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
    // CreateMap inlines into the kernel's child: built once per row,
    // consumed once, never stored), and Enrichment reads only
    // way_id/coords (ColumnPruning now deletes the map from its plan
    // entirely). The materialization barrier every ski query shares
    // moved one level up, to SkiQueries.formatted's localCheckpoint
    // of the NARROW formatted columns.
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(wayId.as("way_id"),
        (if (kernel) kernelTags else tags).as("tags"),
        coords.as("coords"))
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
