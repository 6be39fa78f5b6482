package graft.streaming

import java.nio.file.{Files, Path}
import graft.{Tables, TempDirs}
import graft.operators.Events
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** What every streaming drive shares: one way to run a query to
  * completion, one scratch scope for the files a drive writes, one
  * file-stream reader for the input tables, and one staged restart
  * drive.
  *
  * A drive over a static table runs AvailableNow: the query drains
  * every file it sees at start, in one micro-batch unless the reader
  * throttles it, then stops — a deterministic, batch-equivalent result.
  * On a live source only the trigger changes.
  */
private[streaming] object StreamHarness {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Starts `writer` under AvailableNow, waits until it has drained
    * its input, and stops it.
    */
  def runAvailableNow(writer: DataStreamWriter[_]): Unit = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination()
    finally q.stop()
  }

  /** Drains `stream` into a fresh memory-sink table and returns its
    * rows, checkpointed. The table is dropped on return, so the sink's
    * rows live no longer than the frame returned.
    */
  def toMemory(stream: Dataset[_], outputMode: String): DataFrame = {
    val name = s"graft_stream_${counter.incrementAndGet()}"
    try {
      runAvailableNow(stream.writeStream.outputMode(outputMode)
        .format("memory").queryName(name))
      stream.sparkSession.table(name).localCheckpoint()
    } finally stream.sparkSession.catalog.dropTempView(name)
  }

  /** A drive's scratch root. Its staged input files, its sinks and its
    * checkpoint all live under `root`.
    */
  final class Scratch(val root: Path) {
    val in: Path = Files.createDirectories(root.resolve("in"))
    /** The file-stream glob over the staged input. */
    val staged: String = s"$in/*.parquet"
    val out: String = dir("out")
    val ckpt: String = dir("ckpt")
    def dir(name: String): String = root.resolve(name).toString
  }

  /** Runs `body` in a fresh scratch root and deletes the root when it
    * returns, so what `body` returns must not read from it
    * (`localCheckpoint` it first).
    */
  def withScratch[T](prefix: String)(body: Scratch => T): T = {
    val s = new Scratch(TempDirs.scoped(prefix))
    try body(s) finally TempDirs.deleteTree(s.root)
  }

  /** Table `table` of `sfDir` as a file stream over `files` (a glob; by
    * default the table's own files), with the schema `Tables.load`
    * resolved. With `oneFilePerTrigger` each file is its own
    * micro-batch, oldest first.
    */
  def fileStream(spark: SparkSession, sfDir: String, table: String,
      files: String = "", oneFilePerTrigger: Boolean = false): DataFrame = {
    val reader = spark.readStream.schema(Tables.load(spark, sfDir, table).schema)
    (if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader)
      .parquet(if (files.isEmpty) s"$sfDir/$table*.parquet" else files)
  }

  /** The events of `sfDir` as a file stream (see [[fileStream]]), plus
    * `ms` (epoch millis, [[Events.msFromTs]]) and `event_time`, which
    * carries a watermark of `delay` unless `delay` is empty.
    */
  def events(spark: SparkSession, sfDir: String, delay: String,
      files: String = "", oneFilePerTrigger: Boolean = false): DataFrame = {
    val stream = fileStream(spark, sfDir, "events", files, oneFilePerTrigger)
    val timed = stream
      .withColumn("ms", Events.msFromTs(stream.schema("ts").dataType))
      .withColumn("event_time", timestamp_millis(col("ms")))
    if (delay.isEmpty) timed else timed.withWatermark("event_time", delay)
  }

  /** Appends `stream` to the parquet sink `s.out`, checkpointed in
    * `s.ckpt`, so the next run resumes where this one stopped.
    */
  def appendTo(s: Scratch, stream: Dataset[_]): Unit =
    runAvailableNow(stream.writeStream.outputMode("append").format("parquet")
      .option("path", s.out).option("checkpointLocation", s.ckpt))

  /** Stages `files` in order as `s.in/e<k>.parquet`, each with an mtime
    * later than the one before, so a throttled reader takes them in
    * that order.
    */
  def stage(s: Scratch, files: Seq[DataFrame]): Unit =
    files.zipWithIndex.foreach { case (f, k) => stageFile(s, k, f) }

  /** The staged restart drive: stages each of `files` in order and runs
    * `runOnce` after it. A `None` is a restart with no new file. Each
    * run ingests exactly the files added since the previous one (the
    * checkpoint remembers the rest) and starts from the watermark the
    * previous run committed: restart-driven batch boundaries,
    * deterministic on any filesystem.
    */
  def restarts(s: Scratch, files: Seq[Option[DataFrame]])(
      runOnce: => Unit): Unit =
    files.zipWithIndex.foreach { case (f, k) =>
      f.foreach(stageFile(s, k, _))
      runOnce
    }

  /** Writes `rows` as one parquet FILE `s.in/e<k>.parquet` (Spark
    * writes a directory; its single part-file is moved into place so
    * the file-stream source sees a flat file list).
    */
  private def stageFile(s: Scratch, k: Int, rows: DataFrame): Unit = {
    val tmp = s.root.resolve(s"w$k")
    rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    val file = s.in.resolve(s"e$k.parquet")
    Files.move(part.toPath, file)
    file.toFile.setLastModified(1000000L * (k + 1))
    TempDirs.deleteTree(tmp)
  }

  /** The even-id events, then the odd-id ones. */
  def evenThenOdd(spark: SparkSession, sfDir: String): Seq[Option[DataFrame]] = {
    val batch = Tables.events(spark, sfDir)
    Seq(0, 1).map(r => Some(batch.filter(pmod(col("event_id"), lit(2)) === r)))
  }

  /** The latest event time of `sfDir`, in epoch millis. */
  def lastMs(spark: SparkSession, sfDir: String): Long = {
    val batch = Tables.events(spark, sfDir)
    batch.agg(max(Events.msFromTs(batch.schema("ts").dataType))).head.getLong(0)
  }

  /** Two far-future sentinel files, 30 and 31 days past `maxMs`: each a
    * view + purchase pair of user −1 whose event time advances the
    * watermark past every real row. The drives drop user −1 from what
    * they return.
    */
  def sentinels(spark: SparkSession, sfDir: String,
      maxMs: Long): Seq[Option[DataFrame]] = {
    val tsType = Tables.events(spark, sfDir).schema("ts").dataType
    // `ts` in the scanned type: raw nanos under the legacy conf, or a
    // timestamp cast
    def ts(ms: Long): Column = tsType match {
      case org.apache.spark.sql.types.LongType => lit(ms * 1000000L)
      case dt => timestamp_millis(lit(ms)).cast(dt)
    }
    Seq(0, 1).map { i =>
      Some(spark.range(2).select(
        (lit(-1L) - lit(i * 2L) - col("id")).as("event_id"),
        ts(maxMs + (30L + i) * 86400000L).as("ts"),
        lit(-1L).as("user_id"),
        when(col("id") === 0, "view").otherwise("purchase").as("event_type"),
        lit(0.0).as("value"),
        lit("{}").as("props")))
    }
  }
}
