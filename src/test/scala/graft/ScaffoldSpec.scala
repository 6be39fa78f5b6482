package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.struct

/** Contract tests for the persisted phase-scaffold store. */
class ScaffoldSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): java.nio.file.Path = {
    val p = TempDirs.scoped("graft-scaffold-spec")
    spark.conf.set("spark.graft.scaffoldDir", p.toString)
    p
  }

  test("scaffold builds once and re-reads the persisted artifact") {
    freshRoot()
    try {
      var builds = 0
      def build: DataFrame = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("k", "v") }
      val t1 = Scaffold.table(spark, "spec", "fp-one")(build)
      assert(t1.count() == 2 && builds == 1)
      val t2 = Scaffold.table(spark, "spec", "fp-one")(build)
      assert(t2.count() == 2 && builds == 1) // served from disk, no rebuild
      assert(t2.orderBy("k").collect().map(_.getString(1)).toSeq
        == Seq("a", "b"))
    } finally spark.conf.unset("spark.graft.scaffoldDir")
  }

  test("different fingerprints map to different artifacts") {
    freshRoot()
    try {
      val a = Scaffold.table(spark, "spec", "fp-a")(Seq(1L).toDF("k"))
      val b = Scaffold.table(spark, "spec", "fp-b")(Seq(2L, 3L).toDF("k"))
      assert(a.count() == 1 && b.count() == 2)
      // and the first is untouched by the second build
      assert(Scaffold.table(spark, "spec", "fp-a")(Seq(9L).toDF("k"))
        .count() == 1)
    } finally spark.conf.unset("spark.graft.scaffoldDir")
  }

  test("algorithm params are part of the key: changed param rebuilds") {
    freshRoot()
    try {
      val fp = "data-fp"
      val k16 = Scaffold.paramsKey(fp, "algo" -> "ivf-v1", "k" -> 16)
      val k32 = Scaffold.paramsKey(fp, "algo" -> "ivf-v1", "k" -> 32)
      assert(k16 != k32)
      val a = Scaffold.table(spark, "spec", k16)(Seq(1L).toDF("k"))
      // same data fingerprint, different algorithm constant → a fresh
      // artifact, NOT the stale k=16 index
      val b = Scaffold.table(spark, "spec", k32)(Seq(1L, 2L).toDF("k"))
      assert(a.count() == 1 && b.count() == 2)
      // identical params reuse the artifact
      assert(Scaffold.table(spark, "spec",
        Scaffold.paramsKey(fp, "algo" -> "ivf-v1", "k" -> 16)) {
        Seq(9L, 9L, 9L).toDF("k")
      }.count() == 1)
    } finally spark.conf.unset("spark.graft.scaffoldDir")
  }

  test("stale partial directory (no _SUCCESS) is rebuilt, not served") {
    val root = freshRoot()
    try {
      // simulate a crashed writer: a scaffold dir with data but no
      // _SUCCESS marker
      val dirName = java.nio.file.Files.list(root).count() // 0
      Seq(99L).toDF("k").write.parquet(root.resolve("tmp-seed").toString)
      val committed = Scaffold.table(spark, "spec", "fp-crash") {
        Seq(1L, 2L, 3L).toDF("k")
      }
      assert(committed.count() == 3 && dirName == 0)
      // corrupt: delete the _SUCCESS of the committed artifact
      val dir = java.nio.file.Files.list(root).iterator().asScala
        .find(_.getFileName.toString.startsWith("spec-")).get
      java.nio.file.Files.delete(dir.resolve("_SUCCESS"))
      val rebuilt = Scaffold.table(spark, "spec", "fp-crash") {
        Seq(1L, 2L, 3L, 4L).toDF("k")
      }
      assert(rebuilt.count() == 4) // rebuilt from scratch
    } finally spark.conf.unset("spark.graft.scaffoldDir")
  }

  test("with no scaffoldDir conf the root is one scoped temp dir per process") {
    assert(spark.conf.getOption("spark.graft.scaffoldDir").isEmpty)
    val root = Scaffold.root(spark)
    assert(TempDirs.live.contains(java.nio.file.Paths.get(root)),
      s"$root is not deleted at exit")
    assert(Scaffold.root(spark.newSession()) == root)
  }

  test("a re-read of an artifact runs no Spark job and keeps its schema") {
    val root = freshRoot()
    try {
      def build: DataFrame = Seq((1L, "a", Seq(1.5), Map("k" -> 2)))
        .toDF("k", "v", "xs", "m")
        .select($"*", struct($"k", $"xs").as("s"))
      val first = Scaffold.table(spark, "spec", "fp-reread")(build)
      var again: DataFrame = null
      assert(jobsDuring { again = Scaffold.table(spark, "spec", "fp-reread")(build) } == 0,
        "a re-read ran a job")
      // both reads carry the schema inference finds in the files
      val dir = java.nio.file.Files.list(root).iterator().asScala
        .find(_.getFileName.toString.startsWith("spec-")).get
      val inferred = spark.read.parquet(dir.toString).schema
      assert(first.schema == inferred && again.schema == inferred,
        s"${again.schema} vs $inferred")
      assert(again.collect().toSeq == build.collect().toSeq)
    } finally spark.conf.unset("spark.graft.scaffoldDir")
  }

  test("the spot sinks build one ski-format-spots artifact and each scans it") {
    val root = freshRoot()
    try {
      val names = Seq("q_ski_format_spots", "q_csv_spots", "q_mapbox_spots")
      val plans = names.map { n =>
        val df = SparkEntry.queries(n)(spark, sf)
        df.queryExecution.toRdd.count()
        n -> df.queryExecution.executedPlan
      }
      val artifacts = java.nio.file.Files.list(root).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("ski-format-spots-"))
        .toSeq
      assert(artifacts.size == 1, s"spot artifacts: $artifacts")
      for ((n, plan) <- plans) {
        val scanned = planNodes(plan).collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.map(_.getName)
        }.flatten
        assert(scanned.contains(artifacts.head), s"$n scans $scanned:\n$plan")
      }
    } finally spark.conf.unset("spark.graft.scaffoldDir")
  }

  private implicit class IterAsScala[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}
