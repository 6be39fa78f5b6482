package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.broadcast

/** Self-check of span attribution: jobs with known task counts run in
  * nested spans and outside any span, and the listener's per-group task
  * counts must match. Prints one JSON line; exits 1 on a mismatch.
  * Run by perfbench/tests/test_bench.py.
  */
object ListenerCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .appName("perfbench-listener-check")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val listener = new StageListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(sc, true, () => new java.io.File("."))

    sc.parallelize(1 to 10, 5).count() // no span: 5 tasks under ""
    tracer.span("outer", "a") {
      sc.parallelize(1 to 10, 2).count() // 2 tasks
      tracer.span("inner", "b") {
        sc.parallelize(1 to 100, 3).count() // 3 tasks
      }
      sc.parallelize(1 to 10, 4).count() // back in outer: 4 tasks
    }
    tracer.span("sql", "c") {
      // the broadcast side runs as its own job on another thread
      spark.range(0, 1000, 1, 2)
        .join(broadcast(spark.range(0, 10, 1, 1)), "id").count()
    }
    org.apache.spark.BusDrain(sc)

    val g = listener.groups
    def tasks(k: String) = g.get(k).map(_.tasks.get).getOrElse(-1L)
    def jobs(k: String) = g.get(k).map(_.jobs.get).getOrElse(-1L)
    def actions(k: String) = g.get(k).map(_.actions.size).getOrElse(-1)
    // RDD jobs are no SQL actions; the join's count is one with two jobs
    val ok = tasks("") == 5 && tasks("0") == 6 && jobs("0") == 2 &&
      tasks("1") == 3 && jobs("1") == 1 && jobs("2") >= 2 &&
      actions("0") == 0 && actions("1") == 0 && actions("2") == 1 &&
      tracer.spans.map(_.parent) == Seq(-1, 0, -1)
    println(Json.obj("ok" -> ok, "outside_tasks" -> tasks(""),
      "outer_tasks" -> tasks("0"), "outer_jobs" -> jobs("0"),
      "inner_tasks" -> tasks("1"), "inner_jobs" -> jobs("1"),
      "sql_jobs" -> jobs("2"), "sql_actions" -> actions("2")))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
