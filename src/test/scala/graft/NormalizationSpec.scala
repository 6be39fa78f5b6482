package graft

import graft.operators.Normalization
import org.apache.spark.sql.functions._

/** Scenario tests for run topology normalization, re-expressing the
  * reference's MergeOverlappingRuns / CombineRunSegments /
  * PointGraph unit-test behaviors on tiny DataFrames (SURVEY §5).
  */
class NormalizationSpec extends SparkSpec {
  import spark.implicits._

  private def runsDf(rows: (Long, String, Seq[Seq[Double]])*) =
    rows.toDF("run_id", "props", "coords")

  test("edgesOf without whole-stage codegen never indexes past the last point") {
    // the merged filter evaluates p2 on every posexplode row, the last
    // point's included; element_at(coords, pos + 2) threw there
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val edges = Normalization.edgesOf(runsDf(
        (1L, "a", Seq(Seq(10.0, 47.0), Seq(10.001, 47.0), Seq(10.002, 47.001))),
        (2L, "b", Seq(Seq(11.0, 46.0), Seq(11.001, 46.0))),
        (3L, "c", Seq(Seq(12.0, 45.0)))))
      val got = edges.select("run_id", "idx").as[(Long, Int)].collect()
      assert(got.sorted.toSeq == Seq((1L, 0), (1L, 1), (2L, 0)))
    } finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("identical duplicate runs collapse to one") {
    val line = Seq(Seq(10.0, 47.0), Seq(10.001, 47.0), Seq(10.002, 47.001))
    val out = Normalization.normalizeRuns(
      runsDf((1L, "a", line), (2L, "a", line))).collect()
    assert(out.length == 1)
    assert(out.head.getSeq[Any](out.head.fieldIndex("coords")).length == 3)
  }

  test("partial overlap splits into 3 arcs") {
    // A: p0-p1-p2-p3 ; B: p1-p2 → arcs {A}:p0-p1, {A,B}:p1-p2, {A}:p2-p3
    val p0 = Seq(10.0, 47.0); val p1 = Seq(10.001, 47.0)
    val p2 = Seq(10.002, 47.0); val p3 = Seq(10.003, 47.0)
    val out = Normalization.normalizeRuns(runsDf(
      (1L, "a", Seq(p0, p1, p2, p3)), (2L, "b", Seq(p1, p2))))
    val got = out.select("props").as[String].collect().sorted
    assert(got.toSeq == Seq("a", "a", "a+b"))
  }

  test("same-props fragments chain-merge into one line") {
    val out = Normalization.normalizeRuns(runsDf(
      (1L, "a", Seq(Seq(10.0, 47.0), Seq(10.001, 47.0))),
      (2L, "a", Seq(Seq(10.001, 47.0), Seq(10.002, 47.0)))))
      .collect()
    assert(out.length == 1)
    val coords = out.head.getSeq[scala.collection.Seq[Double]](
      out.head.fieldIndex("coords")).map(_.toSeq).toSeq
    assert(coords == Seq(Seq(10.0, 47.0), Seq(10.001, 47.0), Seq(10.002, 47.0)))
  }

  test("different props do not chain-merge") {
    val out = Normalization.normalizeRuns(runsDf(
      (1L, "a", Seq(Seq(10.0, 47.0), Seq(10.001, 47.0))),
      (2L, "b", Seq(Seq(10.001, 47.0), Seq(10.002, 47.0)))))
    assert(out.count() == 2)
  }

  test("three-way junction does not merge (ambiguous)") {
    val j = Seq(10.001, 47.0)
    val out = Normalization.normalizeRuns(runsDf(
      (1L, "a", Seq(Seq(10.0, 47.0), j)),
      (2L, "a", Seq(j, Seq(10.002, 47.0))),
      (3L, "a", Seq(j, Seq(10.001, 47.001)))))
    assert(out.count() == 3)
  }

  test("reversed duplicate collapses (canonical edge orientation)") {
    val out = Normalization.normalizeRuns(runsDf(
      (1L, "a", Seq(Seq(10.0, 47.0), Seq(10.001, 47.0))),
      (2L, "a", Seq(Seq(10.001, 47.0), Seq(10.0, 47.0)))))
    assert(out.count() == 1)
  }

  test("stitch orients and orders fragments") {
    val got = Normalization.stitch(Seq(
      Seq(Seq(2L, 0L), Seq(1L, 0L)),       // reversed middle
      Seq(Seq(0L, 0L), Seq(1L, 0L)),
      Seq(Seq(2L, 0L), Seq(3L, 0L))))
    val want = Seq(Seq(0L, 0L), Seq(1L, 0L), Seq(2L, 0L), Seq(3L, 0L))
    assert(got.contains(want) || got.contains(want.reverse))
  }

  test("stitch merges a pure cycle into one closed line") {
    // triangle 0→1→2→0: the reference's PointGraph merges cycles too
    // (expansion stops when it re-reaches the processed start feature)
    val got = Normalization.stitch(Seq(
      Seq(Seq(0L, 0L), Seq(1L, 0L)),
      Seq(Seq(1L, 0L), Seq(2L, 0L)),
      Seq(Seq(2L, 0L), Seq(0L, 0L)))).get
    assert(got.length == 4)
    assert(got.head == got.last)
    assert(got.toSet == Set(Seq(0L, 0L), Seq(1L, 0L), Seq(2L, 0L)))
  }

  test("stitch leaves non-linearizable components unmerged (None)") {
    // two disjoint fragments can never share an endpoint walk
    val got = Normalization.stitch(Seq(
      Seq(Seq(0L, 0L), Seq(1L, 0L)),
      Seq(Seq(5L, 0L), Seq(6L, 0L))))
    assert(got.isEmpty)
  }

  test("oneway stitch follows direction and never reverses") {
    // forward chain A→B, B→C merges in order
    val fwd = Normalization.stitch(Seq(
      Seq(Seq(0L, 0L), Seq(1L, 0L)),
      Seq(Seq(1L, 0L), Seq(2L, 0L))), oneway = true)
    assert(fwd.contains(Seq(Seq(0L, 0L), Seq(1L, 0L), Seq(2L, 0L))))
    // A→B and C→B share endpoint B but merging needs a reversal:
    // oneway leaves it unmerged (PointGraph's hasDirection guard);
    // direction-free stitch merges it
    val frags = Seq(
      Seq(Seq(0L, 0L), Seq(1L, 0L)),
      Seq(Seq(2L, 0L), Seq(1L, 0L)))
    assert(Normalization.stitch(frags, oneway = true).isEmpty)
    assert(Normalization.stitch(frags, oneway = false).isDefined)
    // directed cycle A→B→A still merges (no reversal required)
    val cyc = Normalization.stitch(Seq(
      Seq(Seq(0L, 0L), Seq(1L, 0L)),
      Seq(Seq(1L, 0L), Seq(0L, 0L))), oneway = true)
    assert(cyc.contains(Seq(Seq(0L, 0L), Seq(1L, 0L), Seq(0L, 0L))))
  }

  test("segId packing is collision-free past 100k segments per run") {
    import org.apache.spark.sql.functions._
    // the old run*100000+no pack collided: (1, 100001) == (2, 1)
    val df = Seq((1L, 100001L), (2L, 1L), (1L, 1048575L))
      .toDF("seg_run", "seg_no")
      .select(Normalization.segId(col("seg_run"), col("seg_no")).as("id"))
    val ids = df.collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.size == 3)
    assert(ids(0) == (1L << 20 | 100001L) && ids(1) == (2L << 20 | 1L))
    // >= 2^20 segments fails loudly instead of silently colliding
    val err = intercept[Exception] {
      Seq((1L, 1048576L)).toDF("seg_run", "seg_no")
        .select(Normalization.segId(col("seg_run"), col("seg_no")))
        .collect()
    }
    assert(err.getMessage != null)
  }
}
