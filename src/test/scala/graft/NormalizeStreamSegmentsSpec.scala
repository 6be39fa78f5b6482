package graft

import graft.operators.Normalization
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.aggregate.{
  HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.window.WindowExec

/** The sorted-stream N2 split (NormalizeSegmentsExec) must be
  * indistinguishable from the window/aggregate composition it replaced
  * (a window lag + running sum over (run_id, idx), then the owned rows
  * re-aggregated per (run, seg_no)): same seg_ids (pins the seg_no
  * counting — including that UNOWNED stretches advance the counter),
  * same members/props/phash, same pts chains. That composition's output
  * was frozen before it was deleted: its `canon` tuples on the three
  * crafted scenarios are the literals below, and its `q_ski_normalize`
  * rows at sf0.001 are a count and digest in
  * `golden/ski_normalize_window.txt`. Plus the plan shape: no window
  * and no re-aggregation in the split.
  *
  * That summary row cannot see segment ids, so N2 itself is also pinned
  * at fixture scale: every `splitSharedArcs` row of the normalize input
  * at sf0.001, seg_id included, digested in
  * `golden/ski_normalize_segments.txt`. A synthesized run is a diagonal
  * arc then a horizontal one, so two runs never share the first arc
  * without the second, and that input has no unowned stretch before an
  * owned one. `golden/ski_normalize_segments_stubs.txt` adds, for every
  * run whose id ends in 5, a copy of its first arc under a smaller
  * (negated) id, so those runs open unowned and the seg_no count past it is pinned too.
  * [[NormalizeSegmentsGolden]] writes both from the sorted-stream code.
  */
class NormalizeStreamSegmentsSpec extends SparkSpec {
  import spark.implicits._

  private def runsDf(rows: (Long, String, Seq[Seq[Double]])*) =
    rows.toDF("run_id", "props", "coords")

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("seg_run"), col("seg_id"), col("members"),
      col("props").cast("string").as("props"), col("phash"), col("pts"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList,
        r.getString(3), r.getLong(4), r.getSeq[Long](5).toList))
      .sortBy(t => (t._1, t._2))
      .toList

  private def streamed(runs: org.apache.spark.sql.DataFrame,
      merge: Normalization.PropsMerge) =
    canon(Normalization.streamedOwnedSegments(
      Normalization.arcMembers(Normalization.edgesOf(runs), merge), merge))

  test("owned-unowned-owned resumption keeps two segments (StringProps)") {
    // run 2's middle edges are shared with run 1 (lower id owns them):
    // run 2 = solo, shared, solo — the two solo stretches have the
    // SAME membership {2} but must stay SEPARATE segments because an
    // unowned stretch sits between them (seg_no counts ALL changes)
    val p = (i: Int) => Seq(10.0 + i * 0.001, 47.0)
    val runs = runsDf(
      (1L, "a", Seq(p(1), p(2), p(3))),
      (2L, "b", Seq(p(0), p(1), p(2), p(3), p(4))))
    val window = List(
      (1L, 1048577L, List(1L, 2L), "a+b", -8981002402066878004L,
        List(429539679742960000L, 429582629415920000L, 429625579088880000L)),
      (2L, 2097153L, List(2L), "b", -6391946315847899181L,
        List(429496730070000000L, 429539679742960000L)),
      (2L, 2097155L, List(2L), "b", -6391946315847899181L,
        List(429625579088880000L, 429668528761840000L)))
    // run 2 contributes exactly two solo segments with distinct seg_ids
    assert(window.count(_._1 == 2L) == 2)
    assert(streamed(runs, Normalization.StringProps) === window)
  }

  test("multi-run scenario equal across shapes (StringProps)") {
    val p = (i: Int, j: Int) => Seq(10.0 + i * 0.001, 47.0 + j * 0.001)
    val runs = runsDf(
      (1L, "a", Seq(p(0, 0), p(1, 0), p(2, 0), p(3, 0))),
      (2L, "b", Seq(p(1, 0), p(2, 0))), // shared interior arc
      (3L, "a", Seq(p(3, 0), p(4, 0), p(4, 1))), // chains onto run 1
      (4L, "c", Seq(p(9, 9), p(9, 8))), // disjoint singleton
      (5L, "d", Seq(p(0, 5), p(0, 5), p(1, 5)))) // degenerate edge dropped
    val window = List(
      (1L, 1048577L, List(1L), "a", -8582455328737087284L,
        List(429496730070000000L, 429539679742960000L)),
      (1L, 1048578L, List(1L, 2L), "a+b", -8981002402066878004L,
        List(429539679742960000L, 429582629415920000L)),
      (1L, 1048579L, List(1L), "a", -8582455328737087284L,
        List(429582629415920000L, 429625579088880000L)),
      (3L, 3145729L, List(3L), "a", -8582455328737087284L,
        List(429625579088880000L, 429668528761840000L, 429668528761850000L)),
      (4L, 4194305L, List(4L), "c", -3446348257159517350L,
        List(429883277126730000L, 429883277126720000L)),
      (5L, 5242881L, List(5L), "d", 4409375254388155230L,
        List(429496730070050000L, 429539679743010000L)))
    assert(streamed(runs, Normalization.StringProps) === window)
  }

  test("lattice props (struct type) equal across shapes") {
    val p = (i: Int) => Seq(10.0 + i * 0.001, 47.0)
    def props(name: String, difficulty: String, oneway: Any) = struct(
      array(lit("downhill")).as("uses"), lit(name).as("name"),
      lit(null).cast("string").as("ref"),
      lit(difficulty).as("difficulty"),
      lit(null).cast("string").as("grooming"),
      lit("operating").as("status"),
      (oneway match {
        case b: Boolean => lit(b)
        case _ => lit(null).cast("boolean")
      }).as("oneway"),
      lit(null).cast("boolean").as("gladed"),
      lit(true).as("patrolled"), lit(null).cast("boolean").as("snowmaking"),
      lit(null).cast("boolean").as("snowfarming"),
      lit(null).cast("boolean").as("tunnel"),
      lit(null).cast("boolean").as("lit"),
      lit(null).cast("string").as("wikidata_id"))
    val base = Seq(
      (1L, Seq(p(0), p(1), p(2), p(3))),
      (2L, Seq(p(1), p(2))),
      (3L, Seq(p(3), p(4)))).toDF("run_id", "coords")
    val runs = base.withColumn("props",
      when(col("run_id") === 1, props("East", "easy", true))
        .when(col("run_id") === 2, props("West", "expert", null))
        .otherwise(props("East", "easy", true)))
      .select("run_id", "props", "coords")
    val window = List(
      (1L, 1048577L, List(1L),
        "{[downhill], East, null, easy, null, operating, true, null, true, null, null, null, null, null}",
        522578815932028527L, List(429496730070000000L, 429539679742960000L)),
      (1L, 1048578L, List(1L, 2L),
        "{[downhill], East, West, null, easy, null, operating, true, null, true, null, null, null, null, null}",
        -2250177475652791228L, List(429539679742960000L, 429582629415920000L)),
      (1L, 1048579L, List(1L),
        "{[downhill], East, null, easy, null, operating, true, null, true, null, null, null, null, null}",
        522578815932028527L, List(429582629415920000L, 429625579088880000L)),
      (3L, 3145729L, List(3L),
        "{[downhill], East, null, easy, null, operating, true, null, true, null, null, null, null, null}",
        522578815932028527L, List(429625579088880000L, 429668528761840000L)))
    assert(streamed(runs, Normalization.RunPropsLattice) === window)
  }

  test("full q_ski_normalize equal under both shapes at fixture scale") {
    val rows = SparkEntry.queries("q_ski_normalize")(spark, sf)
      .collect().map(_.toString).sorted.toList
    val window = Golden.header(Golden.lines("ski_normalize_window.txt"))
    assert(rows.size.toString == window("rows"))
    assert(Golden.sha256(rows) == window("sha256"), s"rows: $rows")
  }

  test("N2 segments (seg_id in every row) match the golden digest at fixture scale") {
    for ((name, stubs) <- NormalizeStreamSegmentsSpec.Goldens) {
      val rows = NormalizeStreamSegmentsSpec.segmentRows(spark, sf, stubs)
      val golden = Golden.header(Golden.lines(name))
      assert(rows.size.toString == golden("rows"), name)
      assert(Golden.sha256(rows) == golden("sha256"), name)
    }
  }

  test("streamed plan: exec present, no window, no aggregate in split") {
    val p = (i: Int) => Seq(10.0 + i * 0.001, 47.0)
    val runs = runsDf(
      (1L, "a", Seq(p(0), p(1), p(2))),
      (2L, "b", Seq(p(1), p(2))))
    val df = Normalization.streamedOwnedSegments(
      Normalization.arcMembers(Normalization.edgesOf(runs)))
    df.write.format("noop").mode("overwrite").save()
    val nodes = planNodes(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[plans.NormalizeSegmentsExec]))
    assert(!nodes.exists(_.isInstanceOf[WindowExec]))
    // the ONLY aggregation left is arcMembers' (lo, hi) groupBy — the
    // split's collect_list re-aggregation must be gone, so exactly
    // the two halves (partial+final) of one aggregate remain
    val aggs = nodes.count(n => n.isInstanceOf[ObjectHashAggregateExec] ||
      n.isInstanceOf[HashAggregateExec] || n.isInstanceOf[SortAggregateExec])
    assert(aggs <= 2, s"expected only arcMembers' aggregate, got $aggs")
  }
}

object NormalizeStreamSegmentsSpec {
  /** golden file -> whether its input carries the first-arc stubs. */
  val Goldens: Seq[(String, Boolean)] = Seq(
    "ski_normalize_segments.txt" -> false,
    "ski_normalize_segments_stubs.txt" -> true)

  /** Every N2 row of the normalize input (plus, with `firstArcStubs`,
    * the first arc of each run whose id ends in 5, under its negated
    * id), as sorted strings.
    */
  def segmentRows(spark: org.apache.spark.sql.SparkSession, sf: String,
      firstArcStubs: Boolean): List[String] = {
    val in = graft.operators.SkiQueries.normalizeInput(spark, sf)
    val runs =
      if (!firstArcStubs) in
      else in.unionByName(in.filter(pmod(col("run_id"), lit(10)) === 5)
        .select((-col("run_id")).as("run_id"), col("props"),
          slice(col("coords"), 1, 2).as("coords")))
    Normalization.splitSharedArcs(runs)
      .collect().map(_.toString).sorted.toList
  }
}

/** Rewrites the N2 golden digests from the current code:
  * `sbt "Test/runMain graft.NormalizeSegmentsGolden <sf0.001 dir>"`.
  */
object NormalizeSegmentsGolden {
  def main(args: Array[String]): Unit =
    for ((name, stubs) <- NormalizeStreamSegmentsSpec.Goldens) {
      val rows = NormalizeStreamSegmentsSpec.segmentRows(
        SparkSpec.session, args(0), stubs)
      println(s"${Golden.write(name, rows)}: ${rows.size} rows")
    }
}
