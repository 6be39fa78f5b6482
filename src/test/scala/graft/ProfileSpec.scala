package graft

import java.nio.file.Files

/** The one profiler: its phase registry must keep building against the
  * query code it names, name lookup must fail loudly, and `--plan`
  * writes one conf-headed plan file per name.
  */
class ProfileSpec extends SparkSpec {

  test("every phase builds and analyses at sf0.001") {
    Profile.phases.foreach { case (name, fn) =>
      withClue(name) { fn(spark, sf).queryExecution.assertAnalyzed() }
    }
  }

  test("a prefix selects its phases in stage order; an unknown name lists the known") {
    assert(Profile.select(Seq("normalize.")).map(_._1) ==
      Profile.phases.keys.filter(_.startsWith("normalize.")).toSeq)
    assert(Profile.select(Seq("q_pipeline_e2e")).map(_._1) ==
      Seq("q_pipeline_e2e"))
    val e = intercept[IllegalArgumentException](
      Profile.select(Seq("no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(e.getMessage.contains("q_pipeline_e2e"))
    assert(e.getMessage.contains("pipeline.enrich"))
  }

  test("format. selects the run, lift and spot formatter frames in order") {
    assert(Profile.select(Seq("format.")).map(_._1) ==
      Seq("format.runs", "format.lifts", "format.spots"))
  }

  test("options parse; an unknown flag fails") {
    val o = Profile.parse(Seq("d", "a", "--runs", "2", "b",
      "--conf", "k=v=w", "--plan", "p"))
    assert(o == Profile.Opts("d", Seq("a", "b"), Some("p"), Some(2),
      Seq("k" -> "v=w")))
    intercept[IllegalArgumentException](Profile.parse(Seq("d", "a", "--time")))
    intercept[IllegalArgumentException](Profile.parse(Seq("d")))
  }

  test("--plan writes <name>.txt with the conf header") {
    val dir = TempDirs.scoped("graft-profile")
    Profile.run(spark, Profile.parse(Seq(sf, "q6_forecast_revenue",
      "--plan", dir.toString)))
    val lines = Files.readAllLines(dir.resolve("q6_forecast_revenue.txt"))
    assert(lines.get(0).startsWith("# q6_forecast_revenue — explain(formatted)"))
    assert(lines.get(1).startsWith("# conf: spark.master=local[4]"))
    assert(lines.get(1).contains("spark.sql.shuffle.partitions=4"))
    assert(lines.contains("== Physical Plan =="))
  }
}
