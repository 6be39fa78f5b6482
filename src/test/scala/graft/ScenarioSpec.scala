package graft

import graft.operators.{Clustering, GridJoin, LiftStations}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Named clustering scenario tests mirroring the reference's behavior
  * spec (`/root/reference/src/clustering/ClusterSkiAreas.integration.test.ts`,
  * 46 scenarios) on tiny DataFrames — each test name carries the
  * reference scenario it re-expresses. Coordinates sit at the equator
  * (0.001° ≈ 111 m); the clustering radius is the reference's 500 m,
  * the lift-station threshold its 30 m.
  */
class ScenarioSpec extends SparkSpec {
  import spark.implicits._

  private val R = 500.0
  private val Cell = 0.01

  private def nodes(rows: (Long, String, Double, Double, Boolean)*) =
    rows.toDF("oid", "act", "lon", "lat", "is_lift")

  private def gen(df: DataFrame): Seq[(Long, String, Boolean, Long)] =
    Clustering.generateSkiAreas(df, R, Cell).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
      .toSeq.sorted

  // ---- ski-area generation (step 6) ----

  test("generates ski area for a lone nordic run (ref :88)") {
    val got = gen(nodes((1L, "nordic", 0.0, 0.0, false)))
    assert(got == Seq((1L, "nordic", false, 1L)))
  }

  test("does NOT generate ski area for lone downhill run without lift (ref :186)") {
    assert(gen(nodes((1L, "downhill", 0.0, 0.0, false))).isEmpty)
  }

  test("generates downhill ski area when a lift is nearby (ref :88)") {
    val got = gen(nodes(
      (1L, "downhill", 0.0, 0.0, false),
      (2L, "downhill", 0.001, 0.0, true)))
    assert(got.map(_._1) == Seq(1L, 2L))
    assert(got.forall(_._4 == 1L)) // area labeled by min member oid
  }

  test("generates ski areas by activity: mixed-use run joins one per activity (ref :257)") {
    val got = gen(nodes(
      (1L, "downhill", 0.0, 0.0, false),
      (1L, "nordic", 0.0, 0.0, false),
      (2L, "downhill", 0.001, 0.0, true)))
    // downhill component (run+lift) kept; nordic lone-run kept
    assert(got.count(_._2 == "downhill") == 2)
    assert(got.count(_._2 == "nordic") == 1)
  }

  test("clusters ski area activities independently (ref :458)") {
    val got = gen(nodes(
      (1L, "downhill", 0.0, 0.0, false),
      (2L, "nordic", 0.001, 0.0, false),
      (3L, "downhill", 0.002, 0.0, false),
      (4L, "downhill", 0.001, 0.0005, true)))
    val downhill = got.filter(_._2 == "downhill").map(_._1)
    val nordic = got.filter(_._2 == "nordic").map(_._1)
    assert(downhill == Seq(1L, 3L, 4L)) // chained through each other
    assert(nordic == Seq(2L))           // separate component, no lift needed
  }

  test("lifts alone do not create ski areas (ref :2973)") {
    assert(gen(nodes((9L, "downhill", 0.0, 0.0, true))).isEmpty)
  }

  test("distant runs form separate generated areas (ref :354 clusters ski areas)") {
    val got = gen(nodes(
      (1L, "nordic", 0.0, 0.0, false),
      (2L, "nordic", 0.5, 0.5, false))) // ~78 km apart
    assert(got.map(x => (x._1, x._4)) == Seq((1L, 1L), (2L, 2L)))
  }

  test("clusters ski areas: lift and run join the existing point area (ref :354)") {
    // The reference's flagship scenario at its own Oberau coordinates:
    // a Skimap.org point ski area with a T-bar and a run ~100-450 m
    // away. Both objects adopt area 1 via the adjacency pass, so the
    // generation pass has nothing left to create.
    val areas = Seq((1L, "downhill", 11.122066084534, 47.557111836837))
      .toDF("area_id", "act", "lon", "lat")
    val objs = Seq(
      (2L, Seq("downhill"), 11.1223444, 47.5572422), // lift
      (3L, Seq("downhill"), 11.1164229, 47.5581250)) // run
      .toDF("okey", "uses", "lon", "lat")
    val assigned = Clustering.transitiveAssign(areas, objs, R, Cell)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(assigned == Seq((2L, 1L), (3L, 1L)))
    // nothing unassigned → no generated ski area alongside area 1
    val leftover = objs.join(
      Clustering.transitiveAssign(areas, objs, R, Cell)
        .withColumnRenamed("okey", "okey2"),
      col("okey") === col("okey2"), "left_anti")
    assert(Clustering.generateSkiAreas(
      leftover.select(col("okey").as("oid"), lit("downhill").as("act"),
        col("lon"), col("lat"), lit(false).as("is_lift")),
      R, Cell).isEmpty)
  }

  // ---- polygon containment + area removal (step 2) ----

  private def square(cx: Double, cy: Double, half: Double) = Seq(
    Seq(cx - half, cy - half), Seq(cx + half, cy - half),
    Seq(cx + half, cy + half), Seq(cx - half, cy + half))

  test("removes OSM polygon area without covered runs (ref :2041/:2155)") {
    val areas = Seq(
      (10L, square(0.0, 0.0, 0.005), 0.0, 0.0),
      (20L, square(1.0, 1.0, 0.005), 1.0, 1.0)) // nothing inside
      .toDF("area_id", "ring", "alon", "alat")
    val runs = Seq(
      (1L, Seq(Seq(0.001, 0.001), Seq(0.002, 0.001)), false, 100.0))
      .toDF("way_id", "coords", "in_site", "len_m")
    val covered = Clustering.coveredBy(areas, runs, Cell, 1)
    val survivors = Clustering.siteOverlapSurvivors(covered)
      .collect().map(_.getLong(0)).toSeq
    assert(survivors == Seq(10L)) // 20 removed: no objects found
  }

  test("removed empty area's outside run gets its own generated area (ref :2155)") {
    // The run sits wholly OUTSIDE the only polygon area: the area is
    // removed (contains nothing), and the run — left unassigned — is
    // picked up by the generation pass as a fresh nordic ski area.
    val areas = Seq((10L, square(0.0, 0.0, 0.005), 0.0, 0.0))
      .toDF("area_id", "ring", "alon", "alat")
    val runs = Seq(
      (2L, Seq(Seq(0.02, 0.02), Seq(0.03, 0.03)), false, 100.0))
      .toDF("way_id", "coords", "in_site", "len_m")
    val covered = Clustering.coveredBy(areas, runs, Cell, 1)
    assert(covered.isEmpty)
    assert(Clustering.siteOverlapSurvivors(covered).isEmpty) // 10 removed
    val got = gen(nodes((2L, "nordic", 0.02, 0.02, false)))
    assert(got == Seq((2L, "nordic", false, 2L)))
  }

  test("removes landuse area with >50% site overlap by length (ref :2456)") {
    val ring = square(0.0, 0.0, 0.005)
    val areas = Seq((10L, ring, 0.0, 0.0)).toDF("area_id", "ring", "alon", "alat")
    val runs = Seq(
      (1L, Seq(Seq(0.001, 0.0), Seq(0.002, 0.0)), true, 60.0),
      (2L, Seq(Seq(-0.001, 0.0), Seq(-0.002, 0.0)), false, 40.0))
      .toDF("way_id", "coords", "in_site", "len_m")
    val covered = Clustering.coveredBy(areas, runs, Cell, 1)
    assert(covered.count() == 2) // both runs inside the ring
    assert(Clustering.siteOverlapSurvivors(covered).isEmpty) // 60% in site
  }

  test("keeps landuse area with insufficient site overlap (ref :2557)") {
    val ring = square(0.0, 0.0, 0.005)
    val areas = Seq((10L, ring, 0.0, 0.0)).toDF("area_id", "ring", "alon", "alat")
    val runs = Seq(
      (1L, Seq(Seq(0.001, 0.0), Seq(0.002, 0.0)), true, 40.0),
      (2L, Seq(Seq(-0.001, 0.0), Seq(-0.002, 0.0)), false, 60.0))
      .toDF("way_id", "coords", "in_site", "len_m")
    val survivors = Clustering.siteOverlapSurvivors(
      Clustering.coveredBy(areas, runs, Cell, 1))
      .collect().map(_.getLong(0)).toSeq
    assert(survivors == Seq(10L)) // only 40% in site → kept
  }

  test("containment requires EVERY vertex inside (partially-inside run excluded)") {
    val areas = Seq((10L, square(0.0, 0.0, 0.005), 0.0, 0.0))
      .toDF("area_id", "ring", "alon", "alat")
    val runs = Seq(
      (1L, Seq(Seq(0.001, 0.0), Seq(0.02, 0.0)), false, 100.0)) // exits ring
      .toDF("way_id", "coords", "in_site", "len_m")
    assert(Clustering.coveredBy(areas, runs, Cell, 1).isEmpty)
  }

  // ---- run activity eligibility + seed rights (prepareRun) ----

  private def rawRuns(
      rows: (Long, Seq[String], Option[String], Option[Boolean], Boolean)*) =
    rows.toDF("run_id", "uses", "grooming", "patrolled", "in_site")

  private def prep(df: DataFrame): Seq[(Long, String, Boolean)] =
    Clustering.prepareRunActivities(df).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      .toSeq.sorted

  test("skips runs with unsupported activity (ref :50)") {
    assert(prep(rawRuns((1L, Seq("skitour"), None, None, false))).isEmpty)
    assert(prep(rawRuns((2L, Seq("sledding"), None, None, false))).isEmpty)
  }

  test("ungroomed backcountry run has no activities (ref :1021)") {
    assert(prep(rawRuns(
      (1L, Seq("downhill"), Some("backcountry"), None, false))).isEmpty)
  }

  test("patrolled backcountry run is eligible and seeds (ref :961)") {
    assert(prep(rawRuns(
      (1L, Seq("downhill"), Some("backcountry"), Some(true), false)))
      == Seq((1L, "downhill", true)))
  }

  test("backcountry run inside a site stays eligible (ref prepareRun isInSkiAreaSite)") {
    // In-site: activities survive, but in-site runs never seed.
    assert(prep(rawRuns(
      (1L, Seq("downhill"), Some("backcountry"), None, true)))
      == Seq((1L, "downhill", false)))
  }

  test("snow park maps to downhill but cannot seed (ref :844)") {
    assert(prep(rawRuns((1L, Seq("snow_park"), None, None, false)))
      == Seq((1L, "downhill", false)))
  }

  test("mixed-use run seeds only its supported activities (ref :543)") {
    assert(prep(rawRuns((3L, Seq("downhill", "skitour"), None, None, false)))
      == Seq((3L, "downhill", true)))
  }

  test("lone snow park generates no ski area even beside a lift (ref :844)") {
    // Snow park + lift: downhill component with a run and a lift, but
    // no seed-eligible member -> dropped.
    val n = Seq(
      (1L, "downhill", 0.0, 0.0, false, false), // snow park: not a basis
      (2L, "downhill", 0.001, 0.0, true, false))
      .toDF("oid", "act", "lon", "lat", "is_lift", "is_basis")
    assert(Clustering.generateSkiAreas(n, R, Cell).isEmpty)
  }

  test("generated ski area includes the adjacent snow park (ref :882)") {
    val n = Seq(
      (1L, "downhill", 0.0, 0.0, false, true),   // proper downhill run
      (2L, "downhill", 0.001, 0.0, false, false), // snow park
      (3L, "downhill", 0.002, 0.0, true, false))  // lift
      .toDF("oid", "act", "lon", "lat", "is_lift", "is_basis")
    val got = Clustering.generateSkiAreas(n, R, Cell).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq.sorted
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("backcountry route near a downhill area stays unassigned (ref :543)") {
    // The skitour-only run never enters the node set (no supported
    // activity), so the generated area contains only run 3 + lift 1.
    val eligible = Clustering.prepareRunActivities(rawRuns(
      (3L, Seq("downhill", "skitour"), None, None, false),
      (4L, Seq("skitour"), None, None, false)))
    val coords = Seq((3L, 0.0, 0.0), (4L, 0.001, 0.0))
      .toDF("oid", "lon", "lat")
    val n = eligible.join(coords, "oid")
      .withColumn("is_lift", lit(false))
      .unionByName(Seq((1L, "downhill", 0.0005, 0.0, true, false))
        .toDF("oid", "act", "lon", "lat", "is_lift", "is_basis"))
    val got = Clustering.generateSkiAreas(n, R, Cell).collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(got == Seq(1L, 3L))
  }

  // ---- polygon association + adjacency fallback (steps 2+6) ----

  test("associates lifts and runs with polygon OSM ski area (ref :1059)") {
    val areas = Seq((1L, square(0.0, 0.0, 0.005), 0.0, 0.0))
      .toDF("area_id", "ring", "alon", "alat")
    val objs = Seq( // a lift line and a run loop, both inside the ring
      (2L, Seq(Seq(0.001, 0.001), Seq(0.002, 0.002)), false, 150.0),
      (3L, Seq(Seq(-0.001, 0.0), Seq(-0.002, -0.001), Seq(-0.001, -0.002)),
        false, 300.0))
      .toDF("way_id", "coords", "in_site", "len_m")
    val got = Clustering.coveredBy(areas, objs, Cell, 1)
      .select("way_id", "area_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq((2L, 1L), (3L, 1L)))
  }

  test("associates adjacent objects when no polygon contains them (ref :1153)") {
    // The run sits just OUTSIDE the polygon: the containment pass
    // misses it, the adjacency pass (transitive expansion from the
    // area anchor, 500 m) picks it up.
    val areas = Seq((1L, square(0.0, 0.0, 0.002), 0.0, 0.0))
      .toDF("area_id", "ring", "alon", "alat")
    val run = Seq( // ~280 m out: outside the ring, inside the 500 m reach
      (2L, Seq(Seq(0.0025, 0.0), Seq(0.0035, 0.0)), false, 110.0))
      .toDF("way_id", "coords", "in_site", "len_m")
    assert(Clustering.coveredBy(areas, run, Cell, 1).isEmpty)
    val adj = Clustering.transitiveAssign(
      Seq((1L, "downhill", 0.0, 0.0)).toDF("area_id", "act", "lon", "lat"),
      Seq((2L, Seq("downhill"), 0.0025, 0.0)).toDF("okey", "uses", "lon", "lat"),
      R, Cell)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(adj == Seq((2L, 1L)))
  }

  test("contained lift goes to its containing polygon, not the nearer adjacent area (ref :1263)") {
    // Lift inside area 20's polygon; area 10's anchor is CLOSER to the
    // lift than area 20's. Containment wins: the lift is assigned to
    // 20 by the polygon pass, and the adjacency pass only ever sees
    // unassigned objects, so 10 cannot steal it.
    val areas = Seq(
      (10L, square(0.0, 0.0, 0.002), 0.0, 0.0),
      (20L, square(0.008, 0.0, 0.005), 0.008, 0.0))
      .toDF("area_id", "ring", "alon", "alat")
    val lift = Seq( // at x=0.004: inside 20's ring, nearer 10's anchor
      (2L, Seq(Seq(0.004, 0.0), Seq(0.005, 0.0)), false, 110.0))
      .toDF("way_id", "coords", "in_site", "len_m")
    val contained = Clustering.coveredBy(areas, lift, Cell, 1)
      .select("way_id", "area_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(contained == Seq((2L, 20L)))
    val unassigned = lift.join(
      Clustering.coveredBy(areas, lift, Cell, 1).select("way_id"),
      Seq("way_id"), "left_anti")
    assert(unassigned.isEmpty) // nothing left for the adjacency pass
  }

  // ---- site-based adoption via transitive closure (step 4) ----

  test("site area adopts nearby unassociated same-activity runs transitively (ref :2301)") {
    // Site member at (0,0); unassigned nordic run 3 reachable only
    // through run 2's far end — the closure chains through it.
    val areas = Seq((1L, "nordic", 0.0, 0.0))
      .toDF("area_id", "act", "lon", "lat")
    val objs = Seq(
      (2L, Seq("nordic"), 0.003, 0.0),
      (3L, Seq("nordic"), 0.006, 0.0)) // ~670 m from site, ~330 m from 2
      .toDF("okey", "uses", "lon", "lat")
    val got = Clustering.transitiveAssign(areas, objs, R, Cell)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq((2L, 1L), (3L, 1L)))
  }

  test("site area does not adopt different-activity runs (ref :2369)") {
    val areas = Seq((1L, "downhill", 0.0, 0.0))
      .toDF("area_id", "act", "lon", "lat")
    val objs = Seq(
      (2L, Seq("downhill"), 0.001, 0.0),
      (3L, Seq("nordic"), 0.002, 0.0))
      .toDF("okey", "uses", "lon", "lat")
    val got = Clustering.transitiveAssign(areas, objs, R, Cell)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got == Seq(2L)) // nordic run 3 left for generation pass
  }

  test("site area with no reachable objects ends memberless (ref :2437)") {
    val areas = Seq((1L, "downhill", 0.0, 0.0))
      .toDF("area_id", "act", "lon", "lat")
    val objs = Seq((2L, Seq("downhill"), 1.0, 1.0)) // ~157 km away
      .toDF("okey", "uses", "lon", "lat")
    assert(Clustering.transitiveAssign(areas, objs, R, Cell).isEmpty)
  }

  // ---- area activity inference (augmentation) ----

  private def areasDf(rows: (Long, Seq[String])*) =
    rows.toDF("area_id", "activities")
  private def membersDf(rows: (Long, String)*) =
    rows.toDF("area_id", "act")
  private def infer(a: DataFrame, m: DataFrame) =
    Clustering.inferAreaActivities(a, m).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toSeq.sortBy(_._1)

  test("area without activities takes the union of member activities (ref :1982)") {
    val got = infer(areasDf((1L, Seq.empty)),
      membersDf((1L, "downhill"), (1L, "downhill"), (1L, "nordic")))
    assert(got == Seq((1L, Seq("downhill", "nordic"))))
  }

  test("declared area activities win over member inference (ref :2077 'when they are not known')") {
    val got = infer(areasDf((1L, Seq("nordic"))),
      membersDf((1L, "downhill")))
    assert(got == Seq((1L, Seq("nordic"))))
  }

  test("memberless area keeps an empty activity list (ref :476-496 guard)") {
    assert(infer(areasDf((1L, Seq.empty)), membersDf())
      == Seq((1L, Seq.empty)))
  }

  test("contained runs determine unknown polygon-area activities (ref :2077)") {
    // coveredBy -> members -> inference, composed like the pipeline.
    val areas = Seq((10L, square(0.0, 0.0, 0.005), 0.0, 0.0))
      .toDF("area_id", "ring", "alon", "alat")
    val runs = Seq(
      (1L, Seq(Seq(0.001, 0.0), Seq(0.002, 0.0)), "nordic"),
      (2L, Seq(Seq(0.02, 0.0), Seq(0.03, 0.0)), "downhill")) // outside
      .toDF("way_id", "coords", "act")
    val members = Clustering.coveredBy(areas, runs, Cell, 1)
      .select("area_id", "act")
    val got = infer(areasDf((10L, Seq.empty)), members)
    assert(got == Seq((10L, Seq("nordic"))))
  }

  // ---- lift stations (step 8) ----

  private def stationsDf(rows: (Long, Double, Double, Double, Option[String])*) =
    rows.toDF("sid", "slon", "slat", "sz", "explicit_pos")

  private val liftA = (100L,
    Seq(Seq(0.0, 0.0, 1000.0), Seq(0.001, 0.0, 1500.0),
      Seq(0.002, 0.0, 2000.0)))

  private def associate(st: DataFrame, lifts: DataFrame) =
    LiftStations.associate(st, lifts, 30.0, Cell)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sorted

  test("associates lift stations with nearby lifts and snaps to the line (ref :3019)") {
    val lifts = Seq(liftA).toDF("lift_id", "coords")
    val got = LiftStations.associate(
      stationsDf((1L, 0.0005, 0.00001, 1050.0, None)), lifts, 30.0, Cell)
      .collect().head
    assert(got.getLong(1) == 100L)
    assert(got.getDouble(3) < 2.0) // ~1.1 m off the line
    assert(math.abs(got.getDouble(5)) < 1e-9) // snapped onto lat 0
  }

  test("infers station position from elevation: bottom/mid/top at 25%/75% (ref :3083)") {
    val lifts = Seq(liftA).toDF("lift_id", "coords")
    val got = associate(stationsDf(
      (1L, 0.0005, 0.00001, 1050.0, None),   // z 1050 ≤ 1250 → bottom
      (2L, 0.001, -0.00002, 1700.0, None),   // between → mid
      (3L, 0.002, 0.00001, 1900.0, None)),   // z 1900 ≥ 1750 → top
      lifts)
    assert(got == Seq((1L, 100L, "bottom"), (2L, 100L, "mid"),
      (3L, 100L, "top")))
  }

  test("explicit station position wins over elevation inference (ref :3083)") {
    val lifts = Seq(liftA).toDF("lift_id", "coords")
    val got = associate(stationsDf(
      (1L, 0.0005, 0.00001, 1050.0, Some("top"))), lifts)
    assert(got == Seq((1L, 100L, "top")))
  }

  test("removes orphaned lift stations without nearby lifts (ref :3176)") {
    val lifts = Seq(liftA).toDF("lift_id", "coords")
    val got = associate(stationsDf(
      (1L, 0.0005, 0.01, 1050.0, None)), lifts) // ~1.1 km away
    assert(got.isEmpty)
  }

  test("associates station with the CLOSEST lift when multiple are nearby (ref :3249)") {
    val liftB = (200L,
      Seq(Seq(0.0005, 0.0001, 0.0), Seq(0.0005, 0.001, 100.0)))
    val lifts = Seq(liftA, liftB).toDF("lift_id", "coords")
    // 8.9 m from lift A's line, 2.2 m from lift B's endpoint
    val got = associate(stationsDf(
      (1L, 0.0005, 0.00008, 50.0, None)), lifts)
    assert(got.map(x => (x._1, x._2)) == Seq((1L, 200L)))
  }

  // ---- Skimap.org ↔ OSM merge (steps 4-5) ----

  private def osmDf(rows: (Long, Option[String], Seq[String], Seq[String],
      Option[String], Boolean, Double, Double)*) =
    rows.map { case (id, nm, acts, webs, wk, ph, lon, lat) =>
      (id, nm, acts, webs, wk, ph,
        if (ph) 360.0 else lon, if (ph) 360.0 else lat, lon, lat)
    }.toDF("area_id", "name", "acts", "websites", "wikidata",
      "placeholder", "glon", "glat", "lon", "lat")

  private def skDf(rows: (Long, String, Seq[String], Seq[String],
      Option[String], Double, Double)*) =
    rows.toDF("sk_id", "name", "acts", "websites", "wikidata", "lon", "lat")

  private def merge(osm: org.apache.spark.sql.DataFrame,
      sk: org.apache.spark.sql.DataFrame) =
    operators.SkiAreaOps.mergeSkiAreas(osm, sk, 250.0, Cell)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSeq.sortBy(x => (x._2, x._1))

  test("merges Skimap.org ski area with OpenStreetMap ski area (ref :1358)") {
    // ~110 m apart, overlapping activity → merged; skimap original gone
    val got = merge(
      osmDf((1L, Some("Alpental"), Seq("downhill"), Seq(), None, false,
        0.0, 0.0)),
      skDf((50L, "Alpental Resort", Seq("downhill", "nordic"),
        Seq("https://sk.example/50"), Some("Q50"), 0.001, 0.0)))
    assert(got == Seq((1L, "openstreetmap", "Alpental",
      "downhill;nordic", "https://sk.example/50")))
  }

  test("merges Skimap.org area without activities (treated as all-activity) (ref :1559)") {
    val got = merge(
      osmDf((1L, Some("A"), Seq("downhill"), Seq(), None, false, 0.0, 0.0)),
      skDf((50L, "A!", Seq(), Seq(), Some("Q50"), 0.001, 0.0)))
    // merged (no standalone skimap row), wikidata taken from skimap
    assert(got.map(x => (x._1, x._2)) == Seq((1L, "openstreetmap")))
    assert(got.head._4 == "downhill") // empty skimap acts add nothing
  }

  test("prefers OSM websites when merging (ref :1623)") {
    val got = merge(
      osmDf((1L, Some("A"), Seq("downhill"), Seq("https://osm.example/1"),
        None, false, 0.0, 0.0)),
      skDf((50L, "A!", Seq("downhill"), Seq("https://sk.example/50"),
        None, 0.001, 0.0)))
    assert(got.head._5 == "https://osm.example/1") // skimap site NOT added
  }

  test("keeps distant Skimap.org areas standalone (ref :1662)") {
    val got = merge(
      osmDf((1L, Some("A"), Seq("downhill"), Seq(), None, false, 0.0, 0.0)),
      skDf((50L, "Far", Seq("downhill"), Seq(), None, 0.5, 0.5)))
    assert(got.map(x => (x._1, x._2)) ==
      Seq((1L, "openstreetmap"), (50L, "skimap")))
  }

  test("activity-incompatible Skimap.org area stays standalone") {
    val got = merge(
      osmDf((1L, Some("A"), Seq("downhill"), Seq(), None, false, 0.0, 0.0)),
      skDf((50L, "Nordic only", Seq("nordic"), Seq(), None, 0.001, 0.0)))
    assert(got.map(x => (x._1, x._2)) ==
      Seq((1L, "openstreetmap"), (50L, "skimap")))
  }

  test("merges one Skimap.org area into multiple adjacent OSM areas (ref :1438)") {
    val got = merge(
      osmDf(
        (1L, Some("West"), Seq("downhill"), Seq(), None, false, 0.0, 0.0),
        (2L, Some("East"), Seq("downhill"), Seq(), None, false, 0.003, 0.0)),
      skDf((50L, "Both", Seq("downhill", "nordic"),
        Seq("https://sk.example/50"), None, 0.0015, 0.0)))
    // both OSM areas absorb the activities; the skimap original is gone
    assert(got.map(_._1) == Seq(1L, 2L))
    assert(got.forall(_._4 == "downhill;nordic"))
  }

  private def mergeVia(osm: org.apache.spark.sql.DataFrame,
      sk: org.apache.spark.sql.DataFrame,
      objs: (Long, Double, Double)*) =
    operators.SkiAreaOps.mergeSkiAreasViaObjects(osm, sk,
      objs.toDF("area_id", "lon", "lat"), 250.0, Cell)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSeq.sortBy(x => (x._2, x._1))

  test("merges OSM super-area containing multiple Skimap areas when it has objects inside (ref :1728)") {
    // The OSM polygon's own anchor is ~55 km away, but it owns two
    // member objects, each beside a different Skimap area. The
    // object-mediated search merges BOTH Skimap areas into it.
    val got = mergeVia(
      osmDf((1L, Some("Super"), Seq("downhill"), Seq(), None, false,
        0.5, 0.0)),
      skDf(
        (50L, "North", Seq("downhill"), Seq("https://sk.example/50"),
          None, 0.0, 0.01),
        (51L, "South", Seq("downhill", "nordic"), Seq(), Some("Q51"),
          0.0, -0.01)),
      (1L, 0.0005, 0.01), (1L, 0.0005, -0.01))
    assert(got == Seq((1L, "openstreetmap", "Super", "downhill;nordic",
      "https://sk.example/50")))
  }

  test("merges Skimap area into both sub-area and super-area OSM polygons (ref :1814)") {
    // One object is owned by both the sub-area and the super-area (the
    // sub-polygon nests inside the super-polygon); the Skimap area
    // beside it merges into BOTH, and its original disappears.
    val got = mergeVia(
      osmDf(
        (1L, Some("Sub"), Seq("downhill"), Seq(), None, false, 0.3, 0.0),
        (2L, Some("Super"), Seq("downhill"), Seq(), None, false, 0.6, 0.0)),
      skDf((50L, "Resort", Seq("downhill", "nordic"), Seq(), None,
        0.0, 0.0)),
      (1L, 0.001, 0.0), (2L, 0.001, 0.0))
    assert(got.map(x => (x._1, x._4)) ==
      Seq((1L, "downhill;nordic"), (2L, "downhill;nordic")))
  }

  test("object-less OSM super-area never absorbs Skimap areas (ref :1662 via objects)") {
    // Same geometry as :1728 but the super-area owns NO objects — the
    // Skimap areas stay standalone even though the polygon could span
    // them (the search is object-mediated, not geometry-mediated).
    val got = mergeVia(
      osmDf((1L, Some("Empty"), Seq("downhill"), Seq(), None, false,
        0.5, 0.0)),
      skDf((50L, "North", Seq("downhill"), Seq(), None, 0.0, 0.01)))
    assert(got.map(x => (x._1, x._2)) ==
      Seq((1L, "openstreetmap"), (50L, "skimap")))
  }

  test("placeholder site geometry is replaced by the matched Skimap position (ref :2230)") {
    val row = operators.SkiAreaOps.mergeSkiAreas(
      osmDf((1L, None, Seq("downhill"), Seq(), None, true, 0.001, 0.0005)),
      skDf((50L, "Named", Seq("downhill"), Seq(), None, 0.001, 0.0005)),
      250.0, Cell).collect().head
    // name falls back to the skimap name; geometry to its position
    assert(row.getString(2) == "Named")
    assert(row.getDouble(6) == 0.001 && row.getDouble(7) == 0.0005)
  }

  test("updates activities and run convention for a site based ski area (ref :2230)") {
    // Site area declared with NO activities and a placeholder point:
    // after its member run attaches, activities are inferred from the
    // member (nordic) and the run convention derives from the UPDATED
    // geometry — the reference's run at lon/lat ≈ 1.5 lands in the
    // europe convention, not the placeholder's.
    val inferred = Clustering.inferAreaActivities(
      Seq((1L, Seq.empty[String])).toDF("area_id", "activities"),
      Seq((1L, "nordic")).toDF("area_id", "act"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    assert(inferred == Seq((1L, Seq("nordic"))))
    // geometry updated to the member centroid → convention re-derived
    val conv = Seq((1.4993639242219372, 1.4993640268530994, -100.0, 40.0))
      .toDF("lon", "lat", "plon", "plat")
      .select(
        operators.OutputFormats.difficultyConvention(col("lon"), col("lat"))
          .as("updated"),
        operators.OutputFormats.difficultyConvention(col("plon"), col("plat"))
          .as("placeholder"))
      .head()
    assert(conv.getString(0) == "europe")
    assert(conv.getString(1) == "north_america") // would be wrong pre-update
  }

  test("associates stations with MultiLineString lifts via part rows (ref :3316)") {
    val lifts = Seq(
      (300L, 0, Seq(Seq(0.01, 0.0, 0.0), Seq(0.011, 0.0, 100.0))),
      (300L, 1, Seq(Seq(0.012, 0.0, 900.0), Seq(0.013, 0.0, 1000.0))))
      .toDF("lift_id", "part_no", "coords")
    val got = associate(stationsDf(
      (1L, 0.0125, 0.00001, 950.0, None)), lifts) // near part 1 only
    assert(got == Seq((1L, 300L, "mid"))) // part z-range 900..1000
  }

  test("allows point & MultiLineString lifts to be processed (ref :781)") {
    // formatLifts is geometry-agnostic: a Point station-house lift and
    // a MultiLineString lift both survive formatting, and the Multi*
    // one explodes into per-part LineString rows.
    val pt = """{"type":"Feature","properties":{"id":"1",""" +
      """"aerialway":"chair_lift"},""" +
      """"geometry":{"type":"Point","coordinates":[1.0,2.0]}}"""
    val mls = """{"type":"Feature","properties":{"id":"2",""" +
      """"aerialway":"gondola"},""" +
      """"geometry":{"type":"MultiLineString",""" +
      """"coordinates":[[[0,0],[1,1]],[[2,2],[3,3]]]}}"""
    val decoded = graft.sources.GeoJson.decodeFeaturesFull(
      Seq(pt, mls).toDF("value"), col("value"))
      .withColumn("tags", col("properties"))
      .withColumn("lift_id",
        element_at(col("properties"), "id").cast("long"))
      .select("lift_id", "tags", "geomType", "parts")
    val formatted = graft.operators.Formatters.formatLifts(decoded)
    assert(formatted.count() == 2) // neither geometry type is dropped
    val exploded = graft.operators.Formatters.explodeParts(formatted)
      .select("lift_id", "geomType", "part_no")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSeq.sorted
    assert(exploded == Seq((1L, "Point", 0),
      (2L, "LineString", 0), (2L, "LineString", 1)))
  }

  test("populates lift.stations array with associated stations (ref :3380)") {
    val lifts = Seq(liftA).toDF("lift_id", "coords")
    val assoc = LiftStations.associate(stationsDf(
      (1L, 0.0, 0.00001, 1050.0, None),     // bottom
      (2L, 0.002, 0.00001, 1950.0, None)),  // top
      lifts, 30.0, Cell)
    val got = LiftStations.stationsPerLift(assoc).collect()
      .map(r => (r.getLong(0), r.getSeq[org.apache.spark.sql.Row](1)
        .map(s => (s.getLong(0), s.getString(1))))).toSeq
    assert(got == Seq((100L, Seq((1L, "bottom"), (2L, "top")))))
  }

  test("preserves non-lift-station spots; orphan removal hits stations only (ref :3465)") {
    // Spot pipeline shape: only lift_station spots run through
    // associate (orphans drop); other spot types bypass untouched.
    val lifts = Seq(liftA).toDF("lift_id", "coords")
    val spots = Seq(
      (1L, "lift_station", 0.0005, 0.00001, 1050.0), // associates
      (2L, "lift_station", 0.5, 0.5, 0.0),           // orphan: removed
      (3L, "crossing", 0.5, 0.5, 0.0))               // preserved as-is
      .toDF("sid", "spot_type", "slon", "slat", "sz")
    val stations = spots.filter(col("spot_type") === "lift_station")
      .withColumn("explicit_pos", lit(null).cast("string"))
      .select("sid", "slon", "slat", "sz", "explicit_pos")
    val kept = LiftStations.associate(stations, lifts, 30.0, Cell)
      .select("sid")
      .unionByName(spots.filter(col("spot_type") =!= "lift_station")
        .select("sid"))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(kept == Seq(1L, 3L))
  }

  // ---- site=piste keep rules (ref :2684, :2727, :2769) ----

  test("keeps site=piste area with only backcountry runs; activities inferred (ref :2684)") {
    // The backcountry member is eligible BECAUSE of its site
    // membership; the activity-less site then takes [downhill] from it.
    val prepared = prep(rawRuns((2L, Seq("downhill"), Some("backcountry"),
      None, true)))
    assert(prepared == Seq((2L, "downhill", false))) // eligible, not a basis
    val inferred = Clustering.inferAreaActivities(
      Seq((1L, Seq.empty[String])).toDF("area_id", "activities"),
      Seq((1L, "downhill")).toDF("area_id", "act"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    assert(inferred == Seq((1L, Seq("downhill"))))
  }

  test("keeps site=piste area with only non-skiing activities (ref :2727)") {
    // A sled-use member yields no supported activities — the site area
    // still survives (declared membership, not activity-derived) with
    // an EMPTY activity list.
    val prepared = prep(rawRuns((2L, Seq("sled"), None, None, true)))
    assert(prepared.isEmpty) // no supported activity rows
    val kept = Clustering.inferAreaActivities(
      Seq((1L, Seq.empty[String])).toDF("area_id", "activities"),
      spark.emptyDataset[(Long, String)].toDF("area_id", "act"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    assert(kept == Seq((1L, Seq()))) // area row survives, activities []
  }

  test("extends site=piste area with nearby runs; activities follow (ref :2769)") {
    // Site with a declared downhill member; a second unassociated run
    // within 500 m is adopted by the expansion pass, and the inferred
    // activity set covers both members' uses.
    val adopted = Clustering.transitiveAssign(
      Seq((1L, "downhill", 0.0, 0.0), (1L, "nordic", 0.0, 0.0))
        .toDF("area_id", "act", "lon", "lat"),
      Seq((2L, Seq("downhill"), 0.001, 0.0),
        (3L, Seq("nordic"), 0.003, 0.0))
        .toDF("okey", "uses", "lon", "lat"),
      R, Cell)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(adopted == Seq((2L, 1L), (3L, 1L)))
    val inferred = Clustering.inferAreaActivities(
      Seq((1L, Seq.empty[String])).toDF("area_id", "activities"),
      Seq((1L, "downhill"), (1L, "nordic")).toDF("area_id", "act"))
      .collect().map(_.getSeq[String](1)).head
    assert(inferred == Seq("downhill", "nordic"))
  }

  test("spots associate to areas but never create one (ref :2877)") {
    // A crossing spot near a generated area attaches via the distance
    // join; a lone spot with no area nearby creates nothing (spots
    // never enter the generation node set).
    val nodesDf = nodes(
      (1L, "downhill", 0.0, 0.0, false),
      (2L, "downhill", 0.001, 0.0, true))
    val areas = Clustering.generateSkiAreas(nodesDf, R, Cell)
      .join(nodesDf.select("oid", "lon", "lat"), "oid")
      .groupBy("area_id").agg(min("lon").as("lon"), min("lat").as("lat"))
      .select("area_id", "lon", "lat")
    val spots = Seq(
      (7L, 0.002, 0.0),  // ~220 m from the area's anchor
      (8L, 0.5, 0.5))    // nothing anywhere near
      .toDF("spot_id", "lon", "lat")
    val attached = GridJoin(
      areas.select(col("area_id"), col("lon").as("alon"), col("lat").as("alat")),
      spots, (col("alon"), col("alat")), (col("lon"), col("lat")),
      Cell, GridJoin.Within(R))
      .select("spot_id", "area_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(attached == Seq((7L, 1L)))
    // and a spots-only node set generates no areas at all
    assert(gen(nodes((9L, "downhill", 0.0, 0.0, true))).isEmpty)
  }

  // ---- ski-area statistics (A1; ref :615, :706) ----

  private def statRuns(rows: (Long, String, String, Double, Double, Double,
      Double, Boolean, Boolean)*) =
    rows.toDF("area_id", "activity", "difficulty", "km", "dz", "minz",
      "maxz", "snowmaking", "snowfarming")

  private def statLifts(rows: (Long, String, Double, Double, Double, Double)*) =
    rows.toDF("area_id", "lift_type", "km", "dz", "minz", "maxz")

  private def stats(runs: DataFrame, lifts: DataFrame) =
    operators.Statistics.fullStatistics(runs, lifts)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toSeq.sortBy(_._1)

  test("lift-served skiable vertical caps top-level elevations (ref :615)") {
    // Run 150..250, t-bar lift 100..200 → skiable window is the
    // intersection: min = max(150, 100) = 150, max = min(250, 200) = 200.
    val got = stats(
      statRuns((1L, "downhill", "other", 0.4626, 100.0, 150.0, 250.0,
        false, false)),
      statLifts((1L, "t-bar", 0.4553, 100.0, 100.0, 200.0)))
    assert(got.size == 1)
    val (_, runsStats, liftsStats, mn, mx) = got.head
    assert(mn.contains(150.0) && mx.contains(200.0))
    assert(runsStats ==
      "downhill:{other:{n=1,km=0.4626,smk=0.0000,sfk=0.0000," +
        "dz=100.0000,min=150.0,max=250.0}}")
    assert(liftsStats ==
      "t-bar:{n=1,km=0.4553,dz=100.0000,min=100.0,max=200.0}")
  }

  test("statistics for backcountry run via site membership; no lifts (ref :706)") {
    // A backcountry-groomed run is only in the stats because its site
    // membership kept it eligible; with no lifts the run extremes pass
    // through uncapped and the lifts block is empty.
    val got = stats(
      statRuns((1L, "downhill", "other", 0.4626, 100.0, 150.0, 250.0,
        false, false)),
      statLifts())
    val (_, runsStats, liftsStats, mn, mx) = got.head
    assert(mn.contains(150.0) && mx.contains(250.0))
    assert(liftsStats == "")
    assert(runsStats.startsWith("downhill:{other:{n=1"))
  }

  test("elevation of exactly 0 counts as missing in statistics (JS truthiness)") {
    val got = stats(
      statRuns((1L, "downhill", "other", 1.0, 0.0, 0.0, 0.0, false, false)),
      statLifts((1L, "gondola", 1.0, 50.0, 0.0, 50.0)))
    val (_, _, liftsStats, mn, mx) = got.head
    // run contributes no elevations; lift minz=0 missing too
    assert(mn.isEmpty && mx.contains(50.0))
    assert(liftsStats.contains("min=-,max=50.0"))
  }
}
