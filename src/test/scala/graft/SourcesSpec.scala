package graft

import graft.sources.{GeoJson, Ingest, OsmAssembly}
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("assembleWays joins node coords in ref order") {
    val nodes = Seq((1L, 10.0, 47.0), (2L, 10.001, 47.0), (3L, 10.002, 47.1))
      .toDF("node_id", "lon", "lat")
    val ways = Seq((100L, Seq(3L, 1L, 2L)), (200L, Seq(2L, 99L)))
      .toDF("way_id", "refs")
    val got = OsmAssembly.assembleWays(ways, nodes).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Double]](1).map(_.toSeq).toSeq).toMap
    assert(got(100L) == Seq(Seq(10.002, 47.1), Seq(10.0, 47.0),
      Seq(10.001, 47.0)))
    // missing ref 99 dropped, resolvable point kept
    assert(got(200L) == Seq(Seq(10.001, 47.0)))
  }

  test("GeoJSON feature round-trip (LineString + Point + Polygon)") {
    val rows = Seq(
      (Map("type" -> "run", "name" -> "A"), "LineString",
        Seq(Seq(10.0, 47.0), Seq(10.001, 47.002))),
      (Map("type" -> "spot"), "Point", Seq(Seq(9.5, 46.5))),
      (Map("type" -> "area"), "Polygon",
        Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(1.0, 1.0), Seq(0.0, 0.0))))
      .toDF("properties", "geomType", "coords")
    val json = rows.select(GeoJson.featureJson(
      col("properties"), col("geomType"), col("coords")).as("value"))
    val back = GeoJson.decodeFeatures(json, col("value"))
      .orderBy("geomType").collect()
    assert(back.length == 3)
    val byType = back.map(r => r.getString(1) -> r).toMap
    assert(byType.keySet == Set("LineString", "Point", "Polygon"))
    assert(byType("Point").getSeq[scala.collection.Seq[Double]](2)
      .map(_.toSeq) == Seq(Seq(9.5, 46.5)))
    assert(byType("LineString").getSeq[scala.collection.Seq[Double]](2)
      .map(_.toSeq).toSeq == Seq(Seq(10.0, 47.0), Seq(10.001, 47.002)))
    assert(byType("Polygon").getSeq[scala.collection.Seq[Double]](2)
      .map(_.toSeq).toSeq.head == Seq(0.0, 0.0))
    assert(byType("LineString").getMap[String, String](0)("name") == "A")
  }

  test("featureJson emits parseable standard GeoJSON") {
    val rows = Seq((Map("a" -> "1"), "LineString",
      Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))).toDF("properties", "geomType", "coords")
    val s = rows.select(GeoJson.featureJson(col("properties"),
      col("geomType"), col("coords"))).collect().head.getString(0)
    assert(s.contains(""""type":"Feature""""))
    assert(s.contains(""""coordinates":[[1.0,2.0],[3.0,4.0]]"""))
  }

  // ---- S1/S2 ingest utility ----
  private def tmpDir(): java.nio.file.Path =
    TempDirs.scoped("graft-ingest")

  test("downloadToFile retries with backoff and succeeds within budget") {
    val dir = tmpDir()
    val target = dir.resolve("out.json").toString
    val fails = new java.util.concurrent.atomic.AtomicInteger(2)
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val flaky: Ingest.Fetcher = _ =>
      if (fails.getAndDecrement() > 0) throw new RuntimeException("503")
      else "payload".getBytes("UTF-8")
    val attempts = Ingest.downloadToFile("file:///ignored", target, flaky,
      retries = 10, backoffMs = 60000L, sleeper = sleeps += _)
    assert(attempts == 3)
    assert(sleeps.toSeq == Seq(60000L, 60000L))
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(target)), "UTF-8") == "payload")
  }

  test("downloadToFile rethrows once retries are exhausted") {
    val dir = tmpDir()
    val always: Ingest.Fetcher = _ => throw new RuntimeException("down")
    var slept = 0
    val e = intercept[RuntimeException] {
      Ingest.downloadToFile("file:///x", dir.resolve("y").toString, always,
        retries = 2, backoffMs = 1L, sleeper = _ => slept += 1)
    }
    assert(e.getMessage == "down")
    assert(slept == 2) // one backoff per retry, none after the final failure
  }

  test("downloadAll serializes same-endpoint downloads, runs all") {
    val dir = tmpDir()
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val recording: Ingest.Fetcher = url => {
      order.add(url); Thread.sleep(5); s"data:$url".getBytes("UTF-8")
    }
    val specs = Seq(
      Ingest.DownloadSpec("runs", "z", "file:///z/runs",
        dir.resolve("runs").toString),
      Ingest.DownloadSpec("lifts", "lz4", "file:///lz4/lifts",
        dir.resolve("lifts").toString),
      Ingest.DownloadSpec("areas", "lz4", "file:///lz4/areas",
        dir.resolve("areas").toString),
      Ingest.DownloadSpec("spots", "lz4", "file:///lz4/spots",
        dir.resolve("spots").toString))
    val attempts = Ingest.downloadAll(specs, recording, retries = 0,
      backoffMs = 1L, sleeper = _ => ())
    assert(attempts == Map("runs" -> 1, "lifts" -> 1, "areas" -> 1,
      "spots" -> 1))
    // same-endpoint downloads preserve spec order (strict serialization)
    val lz4 = scala.jdk.CollectionConverters.ListHasAsScala(order).asScala
      .filter(_.startsWith("file:///lz4/")).toSeq
    assert(lz4 == Seq("file:///lz4/lifts", "file:///lz4/areas",
      "file:///lz4/spots"))
    specs.foreach(s =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s.target))))
  }

  // ---- S3: relation → multipolygon ring assembly ----
  test("assembleRelations stitches member ways into closed rings") {
    // outer square split into 3 ways (one reversed), inner triangle in
    // 2 ways; a second relation with an unclosable chain drops it
    val ways = Seq(
      (1L, Seq(Seq(0.0, 0.0), Seq(2.0, 0.0))),
      (2L, Seq(Seq(2.0, 2.0), Seq(2.0, 0.0))), // reversed orientation
      (3L, Seq(Seq(2.0, 2.0), Seq(0.0, 2.0), Seq(0.0, 0.0))),
      (4L, Seq(Seq(0.5, 0.5), Seq(1.0, 0.5), Seq(1.0, 1.0))),
      (5L, Seq(Seq(1.0, 1.0), Seq(0.5, 0.5))),
      (6L, Seq(Seq(9.0, 9.0), Seq(8.0, 8.0)))) // dangling fragment
      .toDF("way_id", "coords")
    val relations = Seq(
      (100L, Seq((1L, "outer"), (2L, "outer"), (3L, "outer"),
        (4L, "inner"), (5L, "inner"))),
      (200L, Seq((6L, "outer"))))
      .toDF("rel_id", "members")
      .withColumn("members", transform(col("members"),
        m => struct(m.getField("_1").as("ref"), m.getField("_2").as("role"))))
    val got = OsmAssembly.assembleRelations(relations, ways).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getSeq[scala.collection.Seq[Double]](3).map(_.toSeq)))
    assert(got.length == 2) // outer + inner of rel 100; rel 200 dropped
    val outer = got.find(g => g._1 == 100L && g._2 == "outer").get._4
    assert(outer.head == outer.last && outer.length == 5)
    assert(outer.toSet == Set(Seq(0.0, 0.0), Seq(2.0, 0.0), Seq(2.0, 2.0),
      Seq(0.0, 2.0)))
    val inner = got.find(g => g._1 == 100L && g._2 == "inner").get._4
    assert(inner.head == inner.last && inner.length == 4)
  }

  test("assembleMultipolygons routes inner rings to their outer part") {
    // two disjoint outer squares; one hole inside the FIRST square, one
    // hole inside the SECOND; an orphan inner (inside neither) drops
    def sq(x0: Double, y0: Double, s: Double) = Seq(
      Seq(x0, y0), Seq(x0 + s, y0), Seq(x0 + s, y0 + s), Seq(x0, y0 + s),
      Seq(x0, y0))
    val ways = Seq(
      (1L, sq(0.0, 0.0, 4.0)), (2L, sq(10.0, 0.0, 4.0)),
      (3L, sq(1.0, 1.0, 1.0)), (4L, sq(11.0, 1.0, 1.0)),
      (5L, sq(50.0, 50.0, 1.0)))
      .toDF("way_id", "coords")
    val relations = Seq(
      (100L, Seq((1L, "outer"), (2L, "outer"), (3L, "inner"),
        (4L, "inner"), (5L, "inner"))))
      .toDF("rel_id", "members")
      .withColumn("members", transform(col("members"),
        m => struct(m.getField("_1").as("ref"), m.getField("_2").as("role"))))
    val got = OsmAssembly.assembleMultipolygons(relations, ways).collect()
    assert(got.length == 1)
    val parts = got.head.getSeq[scala.collection.Seq[
      scala.collection.Seq[scala.collection.Seq[Double]]]](1)
    assert(parts.length == 2)
    // each part: outer ring + exactly the hole that sits inside it
    parts.foreach { part =>
      assert(part.length == 2)
      val outerX = part(0).head.head
      val holeX = part(1).head.head
      assert(math.abs(holeX - outerX - 1.0) < 1e-12,
        s"hole $holeX routed to wrong outer $outerX")
    }
  }

  test("full decode/encode round-trips MultiPolygon holes + MultiLineString") {
    val mp = """{"type":"Feature","properties":{"name":"a"},"geometry":""" +
      """{"type":"MultiPolygon","coordinates":[[[[0,0],[4,0],[4,4],[0,4],[0,0]],""" +
      """[[1,1],[2,1],[2,2],[1,2],[1,1]]],[[[10,0],[14,0],[14,4],[10,4],[10,0]]]]}}"""
    val mls = """{"type":"Feature","properties":{"name":"b"},"geometry":""" +
      """{"type":"MultiLineString","coordinates":[[[0,0],[1,1]],[[5,5],[6,6]]]}}"""
    val df = GeoJson.decodeFeaturesFull(
      Seq(mp, mls).toDF("value"), col("value"))
    val rows = df.orderBy("geomType").collect()
    // MultiLineString: 2 parts, 1 ring each
    val lsParts = rows(0).getSeq[scala.collection.Seq[
      scala.collection.Seq[scala.collection.Seq[Double]]]](2)
    assert(rows(0).getString(1) == "MultiLineString" && lsParts.length == 2)
    assert(lsParts.forall(_.length == 1))
    // MultiPolygon: part 0 carries outer + interior ring, part 1 one ring
    val mpParts = rows(1).getSeq[scala.collection.Seq[
      scala.collection.Seq[scala.collection.Seq[Double]]]](2)
    assert(rows(1).getString(1) == "MultiPolygon" && mpParts.length == 2)
    assert(mpParts(0).length == 2 && mpParts(1).length == 1)
    // encode → decode again is identity
    val re = GeoJson.decodeFeaturesFull(
      df.select(GeoJson.featureJsonFull(col("properties"), col("geomType"),
        col("parts")).as("value")), col("value"))
    assert(re.orderBy("geomType").collect().toSeq == rows.toSeq)
  }

  test("full decode/encode round-trips MultiPoint") {
    val mpt = """{"type":"Feature","properties":{"name":"c"},"geometry":""" +
      """{"type":"MultiPoint","coordinates":[[0.5,1.5],[2.5,3.5,800.0]]}}"""
    val df = GeoJson.decodeFeaturesFull(Seq(mpt).toDF("value"), col("value"))
    val row = df.collect().head
    val parts = row.getSeq[scala.collection.Seq[
      scala.collection.Seq[scala.collection.Seq[Double]]]](2)
    assert(row.getString(1) == "MultiPoint")
    assert(parts.length == 2) // one part per point
    assert(parts.forall(p => p.length == 1 && p.head.length == 1))
    assert(parts(1).head.head == Seq(2.5, 3.5, 800.0)) // z preserved
    val re = GeoJson.decodeFeaturesFull(
      df.select(GeoJson.featureJsonFull(col("properties"), col("geomType"),
        col("parts")).as("value")), col("value"))
    assert(re.collect().toSeq == df.collect().toSeq)
  }

  test("explodeParts emits one singular-typed feature per part") {
    val mp = """{"type":"Feature","properties":{"name":"a"},"geometry":""" +
      """{"type":"MultiPolygon","coordinates":[[[[0,0],[4,0],[4,4],[0,4],[0,0]],""" +
      """[[1,1],[2,1],[2,2],[1,2],[1,1]]],[[[10,0],[14,0],[14,4],[10,4],[10,0]]]]}}"""
    val ls = """{"type":"Feature","properties":{"name":"c"},"geometry":""" +
      """{"type":"LineString","coordinates":[[0,0],[1,1]]}}"""
    val df = GeoJson.decodeFeaturesFull(Seq(mp, ls).toDF("value"), col("value"))
    val got = graft.operators.Formatters.explodeParts(df)
      .select("geomType", "part_no").orderBy("geomType", "part_no")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(got.toSeq == Seq(("LineString", 0), ("Polygon", 0), ("Polygon", 1)))
  }

  // ---- §2.8 ProcessRunner ----
  test("runCommand succeeds on zero exit, fails loudly otherwise") {
    import graft.sources.ProcessRunner
    ProcessRunner.runCommand("/bin/sh", Seq("-c", "exit 0")) // no throw
    val e = intercept[RuntimeException] {
      ProcessRunner.runCommand("/bin/sh", Seq("-c", "exit 3"))
    }
    assert(e.getMessage.contains("exit code 3"))
    assert(e.getMessage.contains("/bin/sh -c exit 3"))
    val missing = intercept[RuntimeException] {
      ProcessRunner.runCommand("/nonexistent-binary-xyz", Seq())
    }
    assert(missing.getMessage.contains("Failed to start command"))
  }

  test("tilesPlan renders the per-layer tippecanoe + tile-join commands") {
    import graft.sources.ProcessRunner
    val plan = ProcessRunner.tilesPlan("l.geojson", "r.geojson",
      "a.geojson", "s.geojson", "/tmp/w", "/tmp/out.mbtiles")
    assert(plan.map(_.command) ==
      Seq("tippecanoe", "tippecanoe", "tippecanoe", "tippecanoe",
        "tile-join"))
    assert(plan.head.args.contains("--named-layer=lifts:l.geojson"))
    assert(plan(2).args.containsSlice(Seq("-Z", "0", "-B", "0")))
    val join = plan.last.args
    assert(join.containsSlice(Seq("-o", "/tmp/out.mbtiles")))
    // ski areas join first, then runs, lifts, spots
    assert(join.indexOf("/tmp/w/ski_areas.mbtiles")
      < join.indexOf("/tmp/w/runs.mbtiles"))
  }

  test("fileFetcher reads file:// fixtures; bboxFilter keeps contained features") {
    val dir = tmpDir()
    val fixture = dir.resolve("skimap.jsonl")
    java.nio.file.Files.write(fixture, Seq(
      """{"type":"Feature","properties":{"name":"in"},"geometry":{"type":"Point","coordinates":[10.5,46.5]}}""",
      """{"type":"Feature","properties":{"name":"out"},"geometry":{"type":"Point","coordinates":[20.0,46.5]}}""",
      """{"type":"Feature","properties":{"name":"half"},"geometry":{"type":"LineString","coordinates":[[10.5,46.5],[20.5,46.5]]}}""")
      .mkString("\n").getBytes("UTF-8"))
    val target = dir.resolve("fetched.jsonl").toString
    Ingest.downloadToFile(fixture.toUri.toString, target, Ingest.fileFetcher)
    val features = GeoJson.readFeatures(spark, target)
    val kept = Ingest.bboxFilter(features, 10.0, 46.0, 11.0, 47.0)
      .select("properties").collect()
      .map(_.getMap[String, String](0)("name")).toSeq
    assert(kept == Seq("in")) // fully-contained only, like booleanContains
  }
}
