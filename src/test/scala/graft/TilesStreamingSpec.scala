package graft

import org.apache.spark.sql.functions._

/** Incremental MVT tile refresh (TilesStreaming): the streaming
  * last-writer-wins tile log must resolve to the batch rebuild, and
  * the rewrite path must actually be exercised — the synthetic spot
  * positions only collide on a tile at id deltas of 25185·k (all
  * ≡ 0 mod 3, which is why the stager splits by id range), so the
  * small scales get a crafted collision fixture.
  */
class TilesStreamingSpec extends SparkSpec {

  test("streamed refresh equals the batch rebuild of the spots layer") {
    val streamed = streaming.TilesStreaming.refreshViaStream(spark, sf)
      .collect().toSeq
    val batch = operators.MvtTiles.decodedStats(
      operators.MvtTiles.tileBytes(spark, sf))
      .filter(col("layer") === "spots").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("crafted collision: later batches rewrite earlier tiles") {
    // ids 1, 25186, 50371 share z<=13 tiles (the +25185 id delta
    // moves a spot only (+15, -135) millidegrees; basing at id 1
    // avoids the ±60° latitude wrap id 0 sits on) and the range
    // stager puts each in its OWN micro-batch, so the shared tile is
    // written three times and only the last version may win
    val dir = TempDirs.scoped("graft_ts_fixture_")
    val events = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_id") < 3)
      .withColumn("event_id", col("event_id") * 25185L + 1L)
    events.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")

    val streamed = streaming.TilesStreaming
      .refreshViaStream(spark, dir.toString)
    // LWW evidence: tiles shared by consecutive ids straddle batch
    // boundaries (id 1 ∈ batch 0 and 25186 ∈ batch 1 share z9 tile
    // (11,184)), so their final resolve must carry BOTH spots — a
    // stale first version would carry one
    val shared = streamed.filter(col("n_features") >= 2).count()
    assert(shared > 0, "no tile holds spots from two micro-batches")
    // and the full streamed state equals the batch rebuild
    val batch = operators.MvtTiles.decodedStats(operators.MvtTiles.encodeOfStreamed(
      operators.MvtTiles.prepOf(operators.MvtTiles.tilesOf(
        operators.MvtTiles.spotFeatures(
          spark.read.parquet(s"$dir/events.parquet"))))))
    assert(streamed.collect().toSeq == batch.collect().toSeq)
  }

  test("a replayed micro-batch leaves the store byte-identical") {
    // foreachBatch is at-least-once — processBatch must be idempotent
    // under replay. Run batch 0 then batch 1, snapshot the resolved
    // store, replay batch 1 verbatim, and require the identical
    // resolved state (same tiles, same bytes, same feature store).
    import java.nio.file.Files
    val spotsDir = TempDirs.scoped("graft_replay_spots_")
      .resolve("store").toString
    val tilesDir = TempDirs.scoped("graft_replay_tiles_")
      .resolve("store").toString
    val events = spark.read.parquet(s"$sf/events.parquet")
    val maxId = events.agg(max("event_id")).head().getLong(0)
    val half = maxId / 2
    val b0 = events.filter(col("event_id") <= half)
    val b1 = events.filter(col("event_id") > half)

    def resolved(): Seq[(Int, Long, Long, String)] = {
      import org.apache.spark.sql.expressions.Window
      spark.read.parquet(s"$tilesDir/b*")
        .withColumn("rn", row_number().over(
          Window.partitionBy("zoom", "tile_x", "tile_y")
            .orderBy(col("ver").desc)))
        .filter(col("rn") === 1)
        .select(col("zoom"), col("tile_x"), col("tile_y"),
          md5(col("tile")).as("h"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
    }
    def storeCount(): Long = spark.read.parquet(s"$spotsDir/b*").count()

    streaming.TilesStreaming.processBatch(b0, 0L, spotsDir, tilesDir)
    streaming.TilesStreaming.processBatch(b1, 1L, spotsDir, tilesDir)
    val once = resolved()
    val storeOnce = storeCount()
    // the failure-replay: the sink sees batch 1 again
    streaming.TilesStreaming.processBatch(b1, 1L, spotsDir, tilesDir)
    assert(storeCount() === storeOnce,
      "replay duplicated rows in the feature store")
    assert(resolved() === once,
      "replay changed the resolved tile state")
  }

  test("range-split micro-batches dirty strictly partial tile sets") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val maxId = events.agg(max("event_id")).head().getLong(0)
    val step = maxId / 3 + 1
    def dirty(b: Int) =
      operators.MvtTiles.tilesOf(operators.MvtTiles.spotFeatures(
          events.filter(col("event_id") >= step * b &&
            col("event_id") < step * (b + 1))))
        .select("z", "tx", "ty").distinct()
    val counts = (0 until 3).map(dirty(_).count())
    val all = (0 until 3).map(dirty).reduce(_ union _).distinct().count()
    counts.zipWithIndex.foreach { case (c, i) =>
      assert(c > 0 && c < all,
        s"batch $i dirties $c of $all — not incremental")
    }
  }

  test("a drive leaves nothing behind in the temp dir once it returns") {
    // every input, sink and checkpoint dir of a drive lives under its
    // scratch root, which is deleted on return. Matched by the names
    // these drives use, since other suites share the temp dir.
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val ours = Seq("graft_tiles", "graft_stage", "graft-stream-index")
    def entries(): Set[String] = tmp.list().toSet
      .filter(n => ours.exists(n.startsWith))
    val before = entries()
    val tiles = streaming.TilesStreaming.refreshViaStream(spark, sf)
    val index = streaming.DocsStreaming.indexViaStream(spark, sf, 3, 12)
    val left = entries() -- before
    assert(left.isEmpty, s"left in $tmp: ${left.mkString(", ")}")
    // what they returned no longer needs those files
    assert(tiles.count() > 0 && index.count() > 0)
  }
}
