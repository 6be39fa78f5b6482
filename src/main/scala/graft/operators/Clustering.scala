package graft.operators

import graft.functions.GeoFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ski-area clustering core (SURVEY §2.6): the transitive-closure
  * proximity assignment (J10) built from the grid-cell distance join
  * ([[GridJoin]], J1) with activity compatibility (J7).
  *
  * Reference behavior: starting from each ski area's geometry,
  * repeatedly claim compatible objects within 500 m of anything
  * already claimed (`/root/reference/src/clustering/
  * SkiAreaClusteringService.ts:705-779`), sequentially per area.
  * Spark-first re-expression: simultaneous frontier expansion for ALL
  * areas (each iteration = one grid join), with deterministic
  * min-area-id-wins resolution for objects reachable from multiple
  * areas — the label-propagation design SURVEY J10 prescribes in place
  * of sequential claiming (divergence documented there).
  *
  * Scale notes: each iteration joins only the frontier (shrinks fast)
  * against the object table, which is computed once and cached.
  * localCheckpoint after each iteration cuts the growing lineage.
  * Chains are geographically short, so the loop converges in a
  * handful of iterations regardless of data size.
  */
object Clustering {

  /** areas: area_id (long), act (string), lon, lat
    * objs:  okey (long), uses (array<string>), lon, lat
    * Returns: okey, area_id (min reaching area).
    */
  def transitiveAssign(areas: DataFrame, objs: DataFrame,
      radiusM: Double, cellDeg: Double): DataFrame = {
    val objsCached = objs.persist()
    var frontier = areas.select(col("area_id"), col("act"),
      col("lon"), col("lat"))
    // reached = lazy union over per-iteration CHECKPOINTED frontier
    // pieces: the anti-join reads materialized blocks either way, and
    // skipping the re-materialization of the growing union saves one
    // full write per iteration
    val reachedParts =
      scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    def reached: org.apache.spark.sql.DataFrame =
      reachedParts.reduce(_ unionByName _)
    // the rows a frontier walks to, which size its round's broadcast
    def walkRows(f: DataFrame): Long = f.agg(coalesce(sum(GridJoin
      .walkCells(col("lat"), cellDeg, GridJoin.Within(radiusM))), lit(0L)))
      .head.getLong(0)
    var cells = walkRows(frontier)
    var iter = 0
    while (iter == 0 || (cells > 0 && iter < 30)) {
      // each frontier row (the areas, then each round's newly reached
      // objects) claims the objects within the radius that support
      // its activity
      val cand = GridJoin(
        frontier.select(col("area_id"), col("act"),
          col("lon").as("l_lon"), col("lat").as("l_lat")),
        objsCached, (col("l_lon"), col("l_lat")), (col("lon"), col("lat")),
        cellDeg, GridJoin.Within(radiusM), buildRows = Some(cells))
        .filter(array_contains(col("uses"), col("act")))
        .select(col("area_id"), col("act"), col("okey"),
          col("lon"), col("lat"))
        .distinct()
      // LAZY checkpoint, then one aggregate: TWO SQL executions per
      // round. With AQE the checkpoint plans its shuffle stages at
      // once and runs them as their own execution (3-4 jobs under
      // `localCheckpoint`); walkRows' `head` then materializes the
      // round's blocks (doCheckpoint completes every partition at job
      // end) and answers the convergence question (no rows walked =
      // no new pairs)
      val newPairs = (if (reachedParts.isEmpty) cand
        else cand.join(reached.select("area_id", "okey"),
          Seq("area_id", "okey"), "left_anti"))
        .localCheckpoint(false)
      cells = walkRows(newPairs)
      reachedParts += newPairs
      frontier = newPairs
      iter += 1
    }
    objsCached.unpersist()
    reached.groupBy("okey").agg(min("area_id").as("area_id"))
  }

  /** Step-6 ski-area generation (`/root/reference/src/clustering/
    * SkiAreaClusteringService.ts:903-1032`): per-activity connected
    * components over the proximity graph, kept only when the component
    * contains ≥1 run, and — the ≥1-lift rule (`:962-976`, scenario
    * "does not generate ski area for lone downhill run without lift",
    * `ClusterSkiAreas.integration.test.ts:186`) — a DOWNHILL component
    * with no lift member is dropped (its runs may still surface
    * through their other activity's component; nordic needs no lift).
    *
    * nodes: (oid long, act in {downhill, nordic}, lon, lat,
    * is_lift boolean) — one row per (object, activity); callers
    * pre-filter to supported activities (the reference skips
    * unsupported-activity runs at basis selection, `:248-270`,
    * see [[prepareRunActivities]]).
    *
    * Seed rule: an optional `is_basis` boolean column marks members
    * that may SEED a new area (`MapObject.isBasisForNewSkiArea` —
    * downhill/nordic-use runs not already in a site). A component with
    * runs but no basis member is dropped: a snow park can join a ski
    * area yet never creates one by itself (scenarios :844/:882).
    * Absent the column, every run is a seed (lifts never are).
    *
    * Returns (oid, act, is_lift, area_id) for members of KEPT
    * generated areas; area_id = min member oid of the component.
    */
  def generateSkiAreas(nodes1: DataFrame, radiusM: Double,
      cellDeg: Double): DataFrame = {
    val nodes0 =
      if (nodes1.columns.contains("is_basis")) nodes1
      else nodes1.withColumn("is_basis", !col("is_lift"))
    val nodes = nodes0
      .withColumn("nid",
        col("oid") * 2 + when(col("act") === "nordic", 1L).otherwise(0L))
      .localCheckpoint()
    val gpairs = GridJoin(
      nodes.select(col("act"), col("nid").as("a"),
        col("lon").as("l_lon"), col("lat").as("l_lat")),
      nodes.select(col("act"), col("nid").as("b"), col("lon"), col("lat")),
      (col("l_lon"), col("l_lat")), (col("lon"), col("lat")),
      cellDeg, GridJoin.Within(radiusM), keys = Seq("act"),
      build = GridJoin.BuildRight)
      .filter(col("a") < col("b"))
      .select("a", "b")
    val labels = minLabelComponents(gpairs)
    val labeled = nodes.join(labels, Seq("nid"), "left")
      .withColumn("label", coalesce(col("label"), col("nid")))
    val gkeep = labeled.groupBy("act", "label")
      .agg(count(when(!col("is_lift"), 1)).as("n_runs"),
        count(when(col("is_lift"), 1)).as("n_lifts"),
        count(when(col("is_basis"), 1)).as("n_basis"))
      .filter(col("n_runs") > 0 && col("n_basis") > 0 &&
        !(col("act") === "downhill" && col("n_lifts") === 0))
      .select("act", "label")
    labeled.join(gkeep, Seq("act", "label"))
      .select(col("oid"), col("act"), col("is_lift"),
        shiftright(col("label"), 1).as("area_id"))
  }

  /** Run activity-eligibility mapping feeding [[generateSkiAreas]]
    * (`SkiAreaClusteringService.ts:240-290` prepareRun): an
    * unpatrolled backcountry-groomed run outside any site has NO
    * activities (it neither joins nor seeds, scenario :1021; patrolled
    * makes it eligible again, :961); run uses map
    * downhill/snow_park → downhill activity, nordic → nordic, and
    * anything else (skitour, sledding, …) is unsupported (:50); a run
    * may seed a NEW area only if its uses include downhill or nordic
    * proper — a snow park joins but never seeds (:844/:882) — and it
    * is not already in a site ski area.
    *
    * runs: (run_id, uses array<string>, grooming string?, patrolled
    * boolean?, in_site boolean). Returns (oid, act, is_basis), one
    * row per supported (run, activity), pure column expressions.
    */
  def prepareRunActivities(runs: DataFrame): DataFrame = {
    val excluded = !col("in_site") &&
      coalesce(col("grooming"), lit("")) === "backcountry" &&
      !coalesce(col("patrolled"), lit(false))
    val acts = array_distinct(flatten(transform(col("uses"), u =>
      when(u === "downhill" || u === "snow_park",
        array(lit("downhill")))
        .when(u === "nordic", array(lit("nordic")))
        .otherwise(array().cast("array<string>")))))
    runs
      .filter(!excluded)
      .select(col("run_id").as("oid"),
        explode(acts).as("act"),
        (!col("in_site") &&
          arrays_overlap(col("uses"),
            array(lit("downhill"), lit("nordic")))).as("is_basis"))
  }

  /** Post-assignment activity/geometry augmentation
    * (`SkiAreaClusteringService.ts:476-511,1302-1318`): a ski area
    * with NO declared activities and ≥1 assigned member takes the
    * distinct union of its members' supported activities; declared
    * activities always win, and a member-less area keeps its empty
    * list (it is removed elsewhere). areas: (area_id,
    * activities array<string>); members: (area_id, act). Returns
    * (area_id, activities) with inferred lists sorted for
    * determinism. One hash-agg on area_id + a broadcast-sized join
    * back to the area table at any scale where areas ≪ members.
    */
  def inferAreaActivities(areas: DataFrame, members: DataFrame): DataFrame = {
    val inferred = members.groupBy("area_id")
      .agg(sort_array(collect_set(col("act"))).as("member_acts"))
    areas.join(inferred, Seq("area_id"), "left")
      .select(col("area_id"),
        when(size(col("activities")) > 0, col("activities"))
          .otherwise(coalesce(col("member_acts"),
            array().cast("array<string>"))).as("activities"))
  }

  /** Step-2 polygon containment (J2, `SkiAreaClusteringService.ts:
    * 337-361` + the ST_CoveredBy refine): runs whose EVERY vertex lies
    * inside the area ring, candidates prefiltered by grid cell
    * (area anchor cell ±reach vs run first-vertex cell).
    * areas: (area_id, ring, alon, alat) plus passthrough columns;
    * runs: (way_id, coords) plus passthrough columns.
    * Returns the joined candidate rows that pass containment.
    */
  def coveredBy(areas: DataFrame, runs: DataFrame, cellDeg: Double,
      reach: Int): DataFrame =
    cellCandidates(areas, runs, cellDeg, reach)
      .filter(forall(col("coords"), p => GeoFunctions.pointInPolygon(
        element_at(p, 1), element_at(p, 2), col("ring"))))

  /** Containment-join candidate generation shared by [[coveredBy]] and
    * the multipolygon variants: run first-vertex cell ±reach × area
    * anchor cell, through [[GridJoin]]. `reach` is a fixed cell count,
    * not a metric radius: containment is a degree-space test. The run
    * side walks, so the fat ring arrays stay one row per area, and the
    * area side is the one broadcast when it fits.
    * areas: (alon, alat, …); runs: (coords, …).
    */
  def cellCandidates(areas: DataFrame, runs: DataFrame, cellDeg: Double,
      reach: Int): DataFrame = {
    def first(i: Int) = element_at(element_at(col("coords"), 1), i)
    GridJoin(runs, areas, (first(1), first(2)), (col("alon"), col("alat")),
      cellDeg, GridJoin.Cells(reach), build = GridJoin.BuildRight)
  }

  /** Both step-2 area-removal rules over [[coveredBy]] output
    * (`SkiAreaClusteringService.ts:654-700`): an area with NO covered
    * objects is removed (it never appears in `covered`), and an area
    * whose covered-member length is >50 % inside a site=piste relation
    * is removed (scenario "removes landuse based ski area when there
    * is a site with sufficient overlap",
    * `ClusterSkiAreas.integration.test.ts:2456`; the insufficient-
    * overlap twin keeps it, `:2557`). covered must carry (area_id,
    * in_site boolean, len_m). Returns surviving area_ids.
    */
  def siteOverlapSurvivors(covered: DataFrame): DataFrame =
    covered.groupBy(col("area_id"))
      .agg(sum(col("len_m")).as("total_m"),
        sum(when(col("in_site"), col("len_m")).otherwise(lit(0.0)))
          .as("site_m"))
      .filter(!(col("total_m") > 0 && col("site_m") / col("total_m") > 0.5))
      .select("area_id")

  /** Connected components over an undirected edge list `(a, b)` by
    * min-label propagation with pointer doubling (label := label(label)
    * each round → O(log diameter) tiny-table iterations). Only nodes
    * that appear in some pair are returned — callers treat absent nodes
    * as singleton components. Returns (nid, label).
    *
    * Scale notes: the loop tables hold only edge-participating nodes;
    * every round is a join + groupBy on flat longs over checkpointed
    * inputs, and convergence is read from an accumulated `chg` flag
    * probed only every SECOND round — two propagation rounds share one
    * driver action (the probe materializes both rounds' lazy
    * checkpoints), halving the blocking round-trips a long chain pays.
    * A converged first-half round makes the second a cheap no-op, so
    * the batched probe costs at most one trivial extra round.
    */
  def minLabelComponents(pairsIn: DataFrame): DataFrame = {
    // lazy checkpoints throughout: each is materialized by the FIRST
    // job that reads it (doCheckpoint completes all partitions), so no
    // standalone materialization actions are spent
    val pairs = pairsIn.localCheckpoint(false)
    // empty-graph fast path: no pairs → no labels, and none of the
    // loop's jobs run (the common case for normalization inputs whose
    // arcs never chain)
    if (pairs.isEmpty)
      return pairs.select(col("a").as("nid"), col("a").as("label"))
    val biPairs = pairs.unionByName(
      pairs.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(false)
    // one min-neighbor + pointer-doubling round; `chg` accumulates
    // across rounds until the caller resets it
    def round(l: DataFrame): DataFrame = {
      val neighborMin = biPairs
        .join(l.select(col("nid").as("b"), col("label").as("nlabel")), "b")
        .groupBy(col("a").as("nid"))
        .agg(min("nlabel").as("nmin"))
      val stepped = l.join(neighborMin, Seq("nid"), "left")
        .select(col("nid"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (col("chg") || coalesce(col("nmin"), col("label")) < col("label"))
            .as("chg"))
      stepped
        .join(stepped.select(col("nid").as("label"),
          col("label").as("ll")), Seq("label"), "left")
        .select(col("nid"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"),
          (col("chg") || coalesce(col("ll"), col("label")) < col("label"))
            .as("chg"))
    }
    var labels = biPairs.select(col("a").as("nid")).distinct()
      .select(col("nid"), col("nid").as("label"),
        lit(false).as("chg"))
      .localCheckpoint(false)
    var changed = true
    var pairIter = 0
    while (changed && pairIter < 13) {
      val half = round(labels).localCheckpoint(false)
      val full = round(half).localCheckpoint(false)
      // ONE action per TWO rounds: the bool_or scan materializes both
      // lazy checkpoints (ancestors complete at job end) and answers
      // convergence for the pair
      changed = full.agg(max(col("chg"))).head.getBoolean(0)
      labels = full.withColumn("chg", lit(false))
      pairIter += 1
    }
    if (changed)
      // 13 pairs = 26 pointer-doubled rounds covers diameter 2^26 —
      // hitting this means the caller would silently see split
      // components, so make it loud.
      System.err.println(
        s"[minLabelComponents] WARNING: label propagation NOT converged " +
          s"after ${pairIter * 2} rounds; components may be split")
    labels.drop("chg")
  }
}
