package graft

import graft.operators.SkiFeatures
import org.apache.spark.sql.functions._

/** Value-identity pin for the round-19 synth-tags kernel: the native
  * SynthTagsExpr map must equal the replaced 27-entry CreateMap form
  * ENTRY-FOR-ENTRY (same keys in the same order, same null-valued
  * entries) on every real row of the sf0.001 tables — the full input
  * domain the scaffold actually sees, covering every lifecycle branch,
  * all modular cascades and the concat-null edges.
  */
class SynthTagsSpec extends SparkSpec {

  private def buildArm(kernelOn: Boolean) =
    SkiFeatures.build(spark, sf, kernel = kernelOn)
      .select(col("way_id"), map_entries(col("tags")).as("e"),
        col("coords"))

  test("kernel map equals the CreateMap form on every sf0.001 row") {
    val k = buildArm(kernelOn = true).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Any](1), r.getSeq[Any](2)))
      .sortBy(_._1)
    val l = buildArm(kernelOn = false).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Any](1), r.getSeq[Any](2)))
      .sortBy(_._1)
    assert(k.length == l.length && k.length > 1000,
      s"row counts ${k.length} vs ${l.length}")
    k.zip(l).foreach { case ((wk, (ek, ck)), (wl, (el, cl))) =>
      assert(wk == wl)
      assert(ek == el, s"way $wk tags differ:\nkernel $ek\nlegacy $el")
      assert(ck == cl, s"way $wk coords differ")
    }
  }

  test("default build uses the kernel") {
    val kplan = SkiFeatures.build(spark, sf)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(kplan.contains("synthtags"), s"kernel missing:\n${kplan.take(500)}")
  }

  test("kernel = false builds the CreateMap form") {
    // the row-for-row test above compares against this arm, so it must
    // really be the replaced form and not the kernel again
    val lplan = SkiFeatures.build(spark, sf, kernel = false)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!lplan.contains("synthtags") && lplan.contains("map("),
      s"legacy form missing:\n${lplan.take(500)}")
  }
}
