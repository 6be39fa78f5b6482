package graft

import org.apache.spark.sql.functions._

/** The stream-stream as-of on a crafted fixture that forces every
  * state-machine path the big-table drive can't isolate:
  *
  *  - a purchase whose matching view arrived in the PREVIOUS batch
  *    (cross-batch view buffering);
  *  - a purchase near the end of the timeline whose user never
  *    produces another event — only the event-time TIMEOUT armed on
  *    the pending purchase can flush it (sentinel watermark passage);
  *  - a purchase with no view at all (outer NULL padding through the
  *    streaming path);
  *  - two same-time views (the per-(user, time) max-id dedupe).
  */
class StreamAsofSpec extends SparkSpec {
  import spark.implicits._

  test("cross-batch buffering, timeout flush, NULL padding, tie dedupe") {
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ts(min: Long) = new java.sql.Timestamp(base + min * 60000L)
    // (event_id, ts, user_id, event_type): user 1 = view early /
    // purchase late (split lands between them); user 2 = purchase at
    // the very end, flushed only by the sentinel-armed timeout;
    // user 3 = purchase, no view; user 4 = two views at the SAME time
    val rows = Seq(
      (10L, ts(0), 1L, "view"),
      (11L, ts(500), 1L, "purchase"),
      (20L, ts(10), 2L, "view"),
      (21L, ts(999), 2L, "purchase"),
      (30L, ts(400), 3L, "purchase"),
      (40L, ts(5), 4L, "view"),
      (41L, ts(5), 4L, "view"), // tie: max id (41) must win
      (42L, ts(600), 4L, "purchase"),
      // ballast spread over the timeline so the median split puts
      // real rows in both batches
      (50L, ts(100), 5L, "view"), (51L, ts(200), 5L, "view"),
      (52L, ts(300), 5L, "view"), (53L, ts(700), 5L, "view"),
      (54L, ts(800), 5L, "view"), (55L, ts(900), 5L, "view"))
    val dir = TempDirs.scoped("graft_ssasof_fix_")
    try {
      rows.toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("value", lit(0.0))
        .withColumn("props", lit("{}"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = graft.streaming.EventsStreaming
        .asofStreamStream(spark, dir.toString)
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      assert(got == Map(
        11L -> Some(10L), // view buffered from batch 1
        21L -> Some(20L), // flushed by the pending-purchase timeout
        30L -> None,      // no view: NULL padded
        42L -> Some(41L)  // same-time tie: max event_id
      ), s"got $got")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(dir.toFile)
  }
}
