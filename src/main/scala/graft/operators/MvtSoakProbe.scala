package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only sustained-load soak of the streamed .mbtiles container
  * writer: generates a decade-up spots workload (MvtScaleProbe's
  * generator), pushes the full encoded tile set through
  * `writeMbtilesOf`'s single-file streaming sink, and samples the
  * driver heap every 100 ms for the run's high-water mark — proving
  * the page-by-page SQLite writer and the `toLocalIterator` feed hold
  * driver memory FLAT while the artifact grows (the claim
  * SqliteFile's header makes). Run with
  * `sbt "runMain graft.operators.MvtSoakProbe [nEvents] [overflow]"`.
  *
  * `overflow` mode (VERDICT r15 #5) composes the writer's UNBOUNDED
  * capacity features with the full artifact round-trip at scale: the
  * workload is point features crammed into a ~0.01° box from z0, so
  * every low-zoom tile carries the whole point set and encodes to
  * hundreds of KB (well past one SQLite page — hundreds-long overflow
  * chains), gzip is ON (tippecanoe-default members, >100 KB
  * post-gzip), and the probe asserts the container write → mmap
  * subtree extraction → file read-back → gunzip → decode chain
  * reproduces EXACTLY the in-memory tiles' per-layer stats while the
  * driver heap stays flat.
  */
object MvtSoakProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val overflow = args.length > 1 && args(1) == "overflow"
    val spark = graft.GraftSession.builder("graft-mvt-soak-probe", "")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // decade-up probes stage tens of GB of generated input + shuffle
    // spill by design — serialize against any concurrent disk-heavy
    // phase unconditionally (VERDICT r17 #2; same lock as Verify/Bench)
    graft.DiskLock.acquire(s"graft.operators.MvtSoakProbe n=$n")

    val feats: DataFrame =
      if (overflow)
        // every point inside one ~0.01° box, visible from z0: each
        // z0..z8 tile holds the ENTIRE point set — an oversize-tile
        // workload no density cap trims (the writer must take any
        // payload the pipeline produces)
        spark.range(0, n).toDF("event_id")
          .select(lit("spots").as("layer"), col("event_id").as("fid"),
            lit(1).as("gtype"), lit(0).as("minz"),
            array(struct(
              (lit(7.0) + pmod(col("event_id") * 7919, lit(1000))
                .cast("double") / 100000.0).as("lon"),
              (lit(46.0) + pmod(col("event_id") * 104729, lit(1000))
                .cast("double") / 100000.0).as("lat"))).as("pts"),
            array(lit("kind")).as("pk"), array(lit("spot")).as("pv"))
      else
        MvtTiles.spotFeatures(
          spark.range(0, n).toDF("event_id")
            .select(col("event_id"),
              expr("timestamp_seconds(820483200 + event_id % 10000000)")
                .as("ts"),
              pmod(col("event_id"), lit(5000)).as("user_id"),
              lit("view").as("event_type"), lit(1.0).as("value"),
              lit("{}").as("props")))
    // materialize the tile BUILD up front (eager checkpoint): in local
    // mode executors share the driver JVM, so sampling across the
    // build would measure the 32-thread encode workspace, not the
    // sink; with the build already in block storage, the high-water
    // delta isolates what the page-streaming SINK itself adds
    val tiles = MvtTiles.encodeOfStreamed(MvtTiles.prepOf(MvtTiles.tilesOf(feats)))
      .localCheckpoint()

    val (maxRaw, over100kGz) =
      if (!overflow) (0L, 0L)
      else {
        val r = tiles.agg(
          max(length(col("tile"))),
          sum(when(length(graft.functions.GzipExpr.gzip(col("tile")))
            > 100000, 1L).otherwise(0L))).head()
        (r.getInt(0).toLong, r.getLong(1))
      }

    // settle, then record the baseline
    System.gc(); Thread.sleep(500); System.gc()
    val rt = Runtime.getRuntime
    def used(): Long = rt.totalMemory() - rt.freeMemory()
    val baseline = used()
    @volatile var high = baseline
    @volatile var stop = false
    val sampler = new Thread(() => {
      while (!stop) {
        val u = used()
        if (u > high) high = u
        Thread.sleep(100)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    val dir = graft.TempDirs.scoped("graft_soak_")
    val out = dir.resolve("soak.mbtiles")
    val t0 = System.nanoTime()
    MvtTiles.writeMbtilesOf(spark, tiles, out, gzip = overflow,
      barrier = false)
    val secs = (System.nanoTime() - t0) / 1e9
    // per-phase high-water: the WRITE phase is the sink claim under
    // test (one page + one partition); the round-trip decode that
    // follows runs 32 executor threads of kernel workspace in the same
    // local JVM and must not be attributed to the sink
    val writeHigh = high

    var roundTrip = ""
    if (overflow) {
      // the full artifact chain at this payload size: mmap subtree
      // extraction of every oversize gzip member, file read-back,
      // gunzip, protobuf decode — hash-compared to the in-memory tiles
      val tdir = dir.resolve("tiles")
      val t1 = System.nanoTime()
      val nOut = MvtTiles.extractTiles(spark, out, tdir)
      val extractSecs = (System.nanoTime() - t1) / 1e9
      def canon(d: DataFrame): Array[String] =
        d.collect().map(_.mkString("|")).sorted
      val want = canon(MvtTiles.decodedStats(tiles))
      val got = canon(MvtTiles.decodedStats(
        MvtTiles.readTileDir(spark, tdir).withColumn("tile",
          graft.functions.GzipExpr.gunzip(col("tile")))))
      require(want.length == got.length && want.sameElements(got),
        s"round-trip stats diverged: ${want.length} vs ${got.length} rows")
      roundTrip = f" extract=$extractSecs%.1f s extracted=$nOut " +
        f"roundtrip_rows=${want.length} max_raw_tile=${maxRaw / 1e3}%.0f KB " +
        f"gz_over_100k=$over100kGz"
    }
    stop = true
    sampler.join()

    val fileMb = java.nio.file.Files.size(out) / 1e6
    val nTiles = graft.sources.SqliteReader.openMapped(out)
      .table("tiles").size
    println(f"[soak] events=$n tiles=$nTiles file=$fileMb%.1f MB " +
      f"write=$secs%.1f s heap_baseline=${baseline / 1e6}%.0f MB " +
      f"heap_high=${high / 1e6}%.0f MB " +
      f"delta=${(high - baseline) / 1e6}%.0f MB " +
      f"write_phase_delta=${(writeHigh - baseline) / 1e6}%.0f MB$roundTrip")
    // the container and (overflow) the extracted tiles/ tree
    graft.TempDirs.deleteTree(dir)
    spark.stop()
  }
}
