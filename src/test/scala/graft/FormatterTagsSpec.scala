package graft

import graft.operators.Formatters
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Value-identity pins for the lift and OSM ski-area kernels
  * (`LiftTagsKernel`, `LanduseTagsKernel`, `SiteTagsKernel`):
  * `formatLifts` and `formatSkiAreas` must produce EXACTLY the rows and
  * schema of the column-form formatters they replaced, frozen as golden
  * data before those were deleted, on the branch-covering inputs of
  * [[FormatterTagsInputs]].
  */
class FormatterTagsSpec extends SparkSpec {

  /** `formatted`'s column names, types and sorted row text against the
    * `column<TAB>name<TAB>type json` and `row<TAB>text` lines of `file`.
    */
  private def assertGolden(formatted: DataFrame, file: String): Unit = {
    val golden = Golden.lines(file)
    val columns = golden.filter(_.startsWith("column\t"))
      .map(_.split("\t")).map { case Array(_, n, t) => (n, t) }
    assert(formatted.schema.map(f => (f.name, f.dataType.json)) == columns,
      s"schema drifted:\n${formatted.schema}\nlegacy $columns")
    val k = formatted.collect().map(_.toString).sorted.toSeq
    val l = golden.filter(_.startsWith("row\t")).map(_.stripPrefix("row\t"))
    assert(k.size == l.size, s"row count ${k.size} vs ${l.size}")
    k.zip(l).foreach { case (a, b) => assert(a == b, s"\nkernel $a\nlegacy $b") }
  }

  test("kernel formatLifts matches the legacy column forms row-for-row") {
    assertGolden(Formatters.formatLifts(FormatterTagsInputs.lifts(spark)),
      "lift_tags_legacy.txt")
  }

  test("kernel formatSkiAreas matches the legacy column forms row-for-row") {
    val (landuse, sites, skimap) = FormatterTagsInputs.areas(spark)
    assertGolden(Formatters.formatSkiAreas(landuse, sites, skimap),
      "area_tags_legacy.txt")
  }

  /** formatLifts' (lift_id, duration_s, occupancy) for one tag each. */
  private def liftNumbers(tags: Seq[Map[String, String]]): Seq[Row] =
    Formatters.formatLifts(spark.createDataFrame(
        spark.sparkContext.parallelize(tags.zipWithIndex.map { case (m, i) =>
          Row(i.toLong, Map("aerialway" -> "chair_lift") ++ m) }, 1),
        StructType(Seq(StructField("lift_id", LongType),
          StructField("tags", MapType(StringType, StringType))))))
      .select("lift_id", "duration_s", "occupancy").collect()
      .sortBy(_.getLong(0)).toSeq

  // the column forms failed the whole job on each of these (a cast of
  // an out-of-range "m:s" part, long overflow of m * 60 + s, and conv()
  // overflow on a hex literal past 64 bits); each is now a null, except
  // a hex duration, which is JS Number minutes that parseFloat reads as
  // 0 ("0x…" → 0 seconds at any size, as "0x10" is in the golden data)
  test("out-of-range lift numbers give null instead of failing the job") {
    assert(liftNumbers(Seq(
        Map("aerialway:duration" -> "99999999999999999999:00"),
        Map("aerialway:duration" -> "999999999999999999:00"),
        Map("aerialway:occupancy" -> "0xFFFFFFFFFFFFFFFFFFFF"),
        Map("aerialway:duration" -> "0xFFFFFFFFFFFFFFFFFFFF"))) ==
      Seq(Row(0L, null, null), Row(1L, null, null), Row(2L, null, null),
        Row(3L, 0L, null)))
  }

  test("formatLifts and formatSkiAreas plan one kernel per OSM source") {
    val lifts = Formatters.formatLifts(FormatterTagsInputs.lifts(spark))
    val (landuse, sites, skimap) = FormatterTagsInputs.areas(spark)
    val areas = Formatters.formatSkiAreas(landuse, sites, skimap)
    def count(df: DataFrame, name: String): Int =
      s"\\b$name\\(".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    assert(count(lifts, "lifttags") == 1, lifts.queryExecution.optimizedPlan)
    assert(count(areas, "landusetags") == 1 && count(areas, "sitetags") == 1,
      areas.queryExecution.optimizedPlan)
  }

  test("the kernels give the same rows without whole-stage codegen") {
    // the interpreted path ships each kernel object to the tasks
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      assertGolden(Formatters.formatLifts(FormatterTagsInputs.lifts(spark)),
        "lift_tags_legacy.txt")
      val (landuse, sites, skimap) = FormatterTagsInputs.areas(spark)
      assertGolden(Formatters.formatSkiAreas(landuse, sites, skimap),
        "area_tags_legacy.txt")
    } finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }
}
