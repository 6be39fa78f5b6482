package graft

import graft.operators.SkiFeatures
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Value-identity pin for the synth-tags kernel: the native
  * SynthTagsExpr map must equal the 27-entry CreateMap form it replaced
  * ENTRY-FOR-ENTRY (same keys in the same order, same null-valued
  * entries) on every real row of the sf0.001 tables — the full input
  * domain the scaffold actually sees, covering every lifecycle branch,
  * all modular cascades and the concat-null edges. The CreateMap form's
  * rows were frozen as golden data (`golden/synth_tags_createmap.txt`:
  * row count, SHA-256 of every canonical row, the first 50 rows in
  * full) before that form was deleted.
  */
class SynthTagsSpec extends SparkSpec {

  /** `way_id<TAB>{k=v;…}<TAB>[x,y,z;…]`, entries in map order. */
  private def canon(r: Row): String = {
    val tags = r.getSeq[Row](1).map(kv => kv.getString(0) + "=" + kv.getString(1))
      .mkString("{", ";", "}")
    val coords = r.getSeq[scala.collection.Seq[Double]](2)
      .map(_.mkString(",")).mkString("[", ";", "]")
    s"${r.getLong(0)}\t$tags\t$coords"
  }

  test("kernel map equals the CreateMap form on every sf0.001 row") {
    val golden = Golden.lines("synth_tags_createmap.txt")
    val want = Golden.header(golden)
    val rows = SkiFeatures.synthesize(spark, sf)
      .select(col("way_id"), map_entries(col("tags")).as("e"),
        col("coords"))
      .collect().map(r => (r.getLong(0), canon(r))).sorted.map(_._2).toSeq
    val first = golden.drop(2)
    rows.zip(first).foreach { case (k, l) =>
      assert(k == l, s"\nkernel $k\nlegacy $l") }
    assert(rows.size.toString == want("rows") && rows.size > 1000,
      s"row count ${rows.size} vs ${want("rows")}")
    assert(Golden.sha256(rows) == want("sha256"),
      s"the first ${first.size} rows match, a later one differs")
  }

  test("default build uses the kernel") {
    val kplan = SkiFeatures.synthesize(spark, sf)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(kplan.contains("synthtags"), s"kernel missing:\n${kplan.take(500)}")
  }
}
