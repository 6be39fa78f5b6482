package graft

import java.nio.file.Files

import graft.sources.GeoJson
import org.apache.spark.sql.functions._

/** The DSv2 geojsonl reader must agree row-for-row with the
  * column-expression decoder on every supported geometry type, resolve
  * by its registered short name, and prune columns.
  */
class GeoJsonlSourceSpec extends SparkSpec {

  private lazy val fixture: String = {
    val dir = TempDirs.scoped("geojsonl-src")
    val lines = Seq(
      """{"type":"Feature","properties":{"name":"pt","lift":"yes"},"geometry":{"type":"Point","coordinates":[7.5,46.5]}}""",
      """{"type":"Feature","properties":{"name":"ls"},"geometry":{"type":"LineString","coordinates":[[7.0,46.0],[7.1,46.1]]}}""",
      """{"type":"Feature","properties":{"name":"pg"},"geometry":{"type":"Polygon","coordinates":[[[0.0,0.0],[4.0,0.0],[4.0,4.0],[0.0,0.0]],[[1.0,1.0],[2.0,1.0],[2.0,2.0],[1.0,1.0]]]}}""",
      """{"type":"Feature","properties":{"name":"mp"},"geometry":{"type":"MultiPoint","coordinates":[[1.0,2.0],[3.0,4.0]]}}""",
      """{"type":"Feature","properties":{"name":"mls"},"geometry":{"type":"MultiLineString","coordinates":[[[0.0,0.0],[1.0,1.0]],[[2.0,2.0],[3.0,3.0]]]}}""",
      """{"type":"Feature","properties":{"name":"mpg"},"geometry":{"type":"MultiPolygon","coordinates":[[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]],[[[5.0,5.0],[6.0,5.0],[6.0,6.0],[5.0,5.0]]]]}}""",
      """{"type":"Feature","properties":null,"geometry":{"type":"Point","coordinates":[0.5,0.5]}}""")
    import scala.jdk.CollectionConverters._
    Files.write(dir.resolve("part-0.jsonl"),
      lines.map(l => l: CharSequence).asJava)
    dir.toString
  }

  test("reader matches decodeFeaturesFull row-for-row") {
    val viaSource = spark.read
      .format("graft.sources.geojsonl.GeoJsonlSource").load(fixture)
    val viaExpr = GeoJson.readFeaturesFull(spark, fixture)
    assert(viaSource.schema == viaExpr.schema)
    val key = col("properties").getItem("name")
    val a = viaSource.orderBy(key).collect().map(_.toString)
    val b = viaExpr.orderBy(key).collect().map(_.toString)
    assert(a.toSeq == b.toSeq)
    assert(a.length == 7)
  }

  test("short name 'geojsonl' resolves via DataSourceRegister") {
    val df = spark.read.format("geojsonl").load(fixture)
    assert(df.count() == 7)
  }

  test("write path round-trips: read(write(df)) is the identity") {
    val out = TempDirs.scoped("geojsonl-out").toString
    val original = spark.read.format("geojsonl").load(fixture)
    original.write.format("geojsonl").mode("overwrite").save(out)
    val back = spark.read.format("geojsonl").load(out)
    val key = col("properties").getItem("name")
    assert(back.orderBy(key).collect().map(_.toString).toSeq ==
      original.orderBy(key).collect().map(_.toString).toSeq)
    // overwrite truncates: writing again must not duplicate rows
    original.write.format("geojsonl").mode("overwrite").save(out)
    assert(spark.read.format("geojsonl").load(out).count() == 7)
  }

  test("bbox metadata columns: range filters push down, prune files, stay exact") {
    val dir = TempDirs.scoped("geojsonl-bbox").toString
    import spark.implicits._
    // three lon bands -> three shard files with disjoint bboxes, plus
    // one feature without geometry (null bbox)
    val feats = ((0 until 30).map { i =>
      val lon = (i % 3) * 50.0 + (i / 3) * 0.1 // bands at 0.., 50.., 100..
      (Map("name" -> s"f$i"), "Point",
        Seq(Seq(Seq(Seq(lon, 10.0 + (i / 3) * 0.1)))))
    } :+ ((Map("name" -> "nogeom"), null: String,
      null: Seq[Seq[Seq[Seq[Double]]]])))
      .toDF("properties", "geomType", "parts")
    feats
      .repartitionByRange(3, element_at(element_at(element_at(
        element_at(col("parts"), 1), 1), 1), 1))
      .write.format("geojsonl").mode("overwrite").save(dir)
    // sidecars exist for each shard
    import scala.jdk.CollectionConverters._
    val sidecars = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".bbox")).toSeq
    assert(sidecars.size == 3, s"one sidecar per shard: $sidecars")

    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head

    val base = spark.read.format("geojsonl").load(dir)
    // SELECT * must NOT include the metadata columns
    assert(base.columns.toSeq == Seq("properties", "geomType", "parts"))

    val filtered = base.filter(col("bbox_w") >= 90.0)
    // the predicate is pushed into the scan...
    assert(scanOf(filtered).scan.description().contains("bbox_w"),
      scanOf(filtered).scan.description())
    // ...and prunes two of the three shard files at planning time
    assert(scanOf(filtered).inputPartitions.size == 1,
      "bbox-disjoint shards must be pruned from the scan")
    // results stay exact: the 10 band-2 features, no null-bbox row
    val names = filtered.select(col("properties").getItem("name"))
      .collect().map(_.getString(0)).toSet
    assert(names == (0 until 30).filter(_ % 3 == 2).map(i => s"f$i").toSet)

    // selecting a bbox column materializes per-feature values
    val withBbox = base.select(col("geomType"), col("bbox_w"), col("bbox_n"))
    val geomRows = withBbox.filter(col("geomType").isNotNull)
    assert(geomRows.filter(col("bbox_w").isNull).count() == 0)
    assert(withBbox.filter(col("geomType").isNull)
      .filter(col("bbox_w").isNotNull).count() == 0)

    // a bbox-range with no matching shard reads zero files
    val none = base.filter(col("bbox_e") < -500.0)
    assert(scanOf(none).inputPartitions.isEmpty && none.count() == 0)

    // sidecar-less data (external producer) still answers exactly
    Files.write(java.nio.file.Paths.get(dir, "extern.jsonl"),
      Seq("""{"type":"Feature","properties":{"name":"x"},"geometry":{"type":"Point","coordinates":[95.0,11.0]}}""")
        .map(l => l: CharSequence).asJava)
    val after = spark.read.format("geojsonl").load(dir)
      .filter(col("bbox_w") >= 90.0)
    assert(after.select(col("properties").getItem("name")).collect()
      .map(_.getString(0)).toSet
      == ((0 until 30).filter(_ % 3 == 2).map(i => s"f$i").toSet + "x"))
  }

  test("commit cleans only this job's temps; a concurrent job's survive") {
    import scala.jdk.CollectionConverters._
    val out = TempDirs.scoped("geojsonl-joblocal")
    // another job's in-flight temp (different job UUID in the suffix)
    val foreign = out.resolve(
      ".part-00000-deadbeef.jsonl.11111111-2222-3333-4444-555555555555.tmp")
    Files.write(foreign, Seq("half-written": CharSequence).asJava)
    spark.read.format("geojsonl").load(fixture)
      .write.format("geojsonl").mode("overwrite").save(out.toString)
    assert(Files.exists(foreign),
      "a concurrent job's temp must not be deleted by this job's commit")
    // none of OUR temps remain
    val ours = Files.list(out).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith(".part-") && n.endsWith(".tmp"))
      .filterNot(_ == foreign.getFileName.toString).toSeq
    assert(ours.isEmpty, s"this job's temps must be cleaned: $ours")
    // the hidden foreign temp is invisible to the reader
    assert(spark.read.format("geojsonl").load(out.toString).count() == 7)
  }

  test("malformed lines: failfast throws with context, permissive skips") {
    import scala.jdk.CollectionConverters._
    val dir = TempDirs.scoped("geojsonl-bad")
    val lines = Seq(
      """{"type":"Feature","properties":{"name":"ok"},"geometry":{"type":"Point","coordinates":[1.0,2.0]}}""",
      """{"this is not json""",
      """{"type":"Feature","properties":{"name":"ok2"},"geometry":{"type":"Point","coordinates":[3.0,4.0]}}""")
    Files.write(dir.resolve("part-0.jsonl"), lines.map(l => l: CharSequence).asJava)
    val e = intercept[Exception] {
      spark.read.format("geojsonl").load(dir.toString).count()
    }
    assert(exceptionChain(e).exists(_.getMessage != null)
      && exceptionChain(e).exists(m =>
        Option(m.getMessage).exists(_.contains("malformed GeoJSON line"))))
    val ok = spark.read.format("geojsonl").option("mode", "permissive")
      .load(dir.toString)
    assert(ok.count() == 2)
  }

  private def exceptionChain(e: Throwable): List[Throwable] =
    e :: Option(e.getCause).map(exceptionChain).getOrElse(Nil)

  test("streaming read tails the directory across appended shards") {
    import scala.jdk.CollectionConverters._
    val dir = TempDirs.scoped("geojsonl-stream")
    def feature(name: String, x: Double) =
      s"""{"type":"Feature","properties":{"name":"$name"},"geometry":{"type":"Point","coordinates":[$x,0.0]}}"""
    Files.write(dir.resolve("a.jsonl"),
      Seq(feature("a1", 1.0), feature("a2", 2.0))
        .map(l => l: CharSequence).asJava)
    val q = spark.readStream.format("geojsonl").load(dir.toString)
      .writeStream.format("memory").queryName("gj_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gj_stream").count() == 2)
      Files.write(dir.resolve("b.jsonl"),
        Seq(feature("b1", 3.0)).map(l => l: CharSequence).asJava)
      q.processAllAvailable()
      assert(spark.table("gj_stream").count() == 3)
      val names = spark.table("gj_stream")
        .select(col("properties").getItem("name")).collect()
        .map(_.getString(0)).sorted
      assert(names.toSeq == Seq("a1", "a2", "b1"))
    } finally q.stop()
  }

  test("stream restart keeps offsets stable when new files sort before old ones") {
    import scala.jdk.CollectionConverters._
    val dir = TempDirs.scoped("geojsonl-restart")
    val ckpt = TempDirs.scoped("geojsonl-ckpt").toString
    def feature(name: String) =
      s"""{"type":"Feature","properties":{"name":"$name"},"geometry":{"type":"Point","coordinates":[1.0,0.0]}}"""
    // first file deliberately sorts LAST alphabetically
    Files.write(dir.resolve("z.jsonl"),
      Seq(feature("z1")).map(l => l: CharSequence).asJava)
    val outDir = TempDirs.scoped("geojsonl-restart-out").toString
    // memory sink can't recover from a checkpoint — use the file sink
    def start() = spark.readStream.format("geojsonl")
      .load(dir.toString)
      .select(col("properties").getItem("name").as("name"))
      .writeStream.format("json").option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    def names() = spark.read.schema("name string").json(outDir)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(names() == Seq("z1"))
    // new file sorts BEFORE the already-committed one; a plain
    // re-listing would remap offset 1 onto z.jsonl and lose a.jsonl
    Files.write(dir.resolve("a.jsonl"),
      Seq(feature("a1")).map(l => l: CharSequence).asJava)
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(names() == Seq("a1", "z1"),
      "restarted query must read exactly the new file, not re-read z")
  }

  test("file-list log is versioned; legacy + interrupted-write states recover") {
    import scala.jdk.CollectionConverters._
    val dir = TempDirs.scoped("geojsonl-verlog")
    val ckpt = TempDirs.scoped("geojsonl-verlog-ckpt")
    def feature(name: String) =
      s"""{"type":"Feature","properties":{"name":"$name"},"geometry":{"type":"Point","coordinates":[1.0,0.0]}}"""
    Files.write(dir.resolve("z.jsonl"),
      Seq(feature("z1")).map(l => l: CharSequence).asJava)
    val outDir = TempDirs.scoped("geojsonl-verlog-out").toString
    def start() = spark.readStream.format("geojsonl")
      .load(dir.toString)
      .select(col("properties").getItem("name").as("name"))
      .writeStream.format("json").option("path", outDir)
      .option("checkpointLocation", ckpt.toString).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // the log lands as a VERSIONED file; no unversioned name remains
    def logFiles() = Files.walk(ckpt).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("graft-file-list")).toSeq
    assert(logFiles().forall(_.matches("graft-file-list\\.v\\d+")),
      s"expected only versioned logs, got ${logFiles()}")
    assert(logFiles().size == 1, "stale versions must be cleaned up")
    // simulate the two crash leftovers: a legacy unversioned log from
    // an old binary and an interrupted hidden temp — restart must read
    // the max VERSION, ignore the temp, and still resume exactly
    val logDir = Files.walk(ckpt).iterator().asScala
      .find(_.getFileName.toString.startsWith("graft-file-list")).get.getParent
    Files.write(logDir.resolve("graft-file-list"),
      Seq("bogus-legacy-entry").map(l => l: CharSequence).asJava)
    Files.write(logDir.resolve(".graft-file-list.tmp-dead"),
      Seq("half-written").map(l => l: CharSequence).asJava)
    Files.write(dir.resolve("a.jsonl"),
      Seq(feature("a1")).map(l => l: CharSequence).asJava)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val names = spark.read.schema("name string").json(outDir)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("a1", "z1"),
      "restart from the versioned log must read only the new file")
    // the persist after restart removed the legacy name again
    assert(!Files.exists(logDir.resolve("graft-file-list")))
  }

  test("legacy unversioned file-list log is honored on restart") {
    import scala.jdk.CollectionConverters._
    val dir = TempDirs.scoped("geojsonl-legacylog")
    val ckpt = TempDirs.scoped("geojsonl-legacylog-ckpt")
    def feature(name: String) =
      s"""{"type":"Feature","properties":{"name":"$name"},"geometry":{"type":"Point","coordinates":[1.0,0.0]}}"""
    Files.write(dir.resolve("z.jsonl"),
      Seq(feature("z1")).map(l => l: CharSequence).asJava)
    val outDir = TempDirs.scoped("geojsonl-legacylog-out").toString
    def start() = spark.readStream.format("geojsonl")
      .load(dir.toString)
      .select(col("properties").getItem("name").as("name"))
      .writeStream.format("json").option("path", outDir)
      .option("checkpointLocation", ckpt.toString).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // rewrite the checkpoint to the pre-versioning layout: move the
    // versioned log back to the legacy unversioned name
    val ver = Files.walk(ckpt).iterator().asScala
      .find(_.getFileName.toString.matches("graft-file-list\\.v\\d+")).get
    Files.move(ver, ver.getParent.resolve("graft-file-list"))
    Files.write(dir.resolve("a.jsonl"),
      Seq(feature("a1")).map(l => l: CharSequence).asJava)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val names = spark.read.schema("name string").json(outDir)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("a1", "z1"),
      "legacy log must anchor offsets exactly like a versioned one")
  }

  test("column pruning pushes into the scan") {
    val df = spark.read.format("geojsonl").load(fixture)
      .select("geomType")
    val types = df.collect().map(_.getString(0)).sorted
    assert(types.count(_ == "Point") == 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("geomType") && !plan.contains("parts"),
      s"pruned scan should not read parts:\n$plan")
  }

  test("geomType filters push into the scan and return exact results") {
    val base = spark.read.format("geojsonl").load(fixture)
    val eq = base.filter(col("geomType") === "Point")
    assert(eq.queryExecution.executedPlan.toString
      .contains("PushedFilters: [IsNotNull(geomType), EqualTo(geomType,Point)"),
      s"EqualTo should be pushed:\n${eq.queryExecution.executedPlan}")
    assert(eq.count() == 2)
    assert(base.filter(col("geomType").isin("Point", "Polygon")).count() == 3)
    assert(base.filter(col("geomType") =!= "Point").count() == 5)
    // negation over null geomType must NOT match (three-valued logic)
    import scala.jdk.CollectionConverters._
    val dir = TempDirs.scoped("geojsonl-nullgeom")
    Files.write(dir.resolve("part-0.jsonl"), Seq(
      """{"type":"Feature","properties":{"name":"nogeom"},"geometry":null}""",
      """{"type":"Feature","properties":{"name":"pt"},"geometry":{"type":"Point","coordinates":[1.0,2.0]}}""")
      .map(l => l: CharSequence).asJava)
    val withNull = spark.read.format("geojsonl").load(dir.toString)
    assert(withNull.filter(not(col("geomType") === "Point")).count() == 0)
    assert(withNull.filter(col("geomType").isNull).count() == 1)
  }

  test("property filters stay residual and still evaluate correctly") {
    val df = spark.read.format("geojsonl").load(fixture)
      .filter(col("properties").getItem("lift") === "yes")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: []")
      || !plan.contains("properties"),
      s"map-access filter must not be claimed as pushed:\n$plan")
    assert(df.count() == 1)
  }
}
