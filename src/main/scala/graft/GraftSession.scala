package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The one SparkSession builder every graft main uses, so the settings
  * `Bench` measures are by construction the settings `Verify` checks.
  *
  * Scale-aware agg fallback (VERDICT r15 #3 / r16 #6): the 10M-key
  * in-memory ObjectHashAggregate threshold (avoids a sort per
  * collect_list partition) OOM'd a 24 GB JVM at sf1-size before the
  * spillable sort path could engage. Fixture inputs (≤ 64 MB on disk;
  * sf0.1 is ~17 MB, the sf1 scaffold 154 MB) keep it unconditionally;
  * larger ones keep it only when the heap can hold 10M keys per
  * partition, and otherwise get Spark's spillable 128.
  * `SPARK_GRAFT_AGG_FALLBACK` stays the explicit override.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Bytes of regular files under `dir`; 0 when it is not a directory.
    * An IO failure reads as huge input (the conservative settings); a
    * fatal JVM error (OOM, interrupt) propagates (ADVICE r17).
    */
  def inputBytes(dir: String): Long =
    try {
      val root = Paths.get(dir)
      if (!Files.isDirectory(root)) 0L
      else {
        val s = Files.walk(root)
        try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        finally s.close()
      }
    } catch { case NonFatal(_) => Long.MaxValue }

  def aggFallback(inputBytes: Long, maxHeap: Long): Long =
    if (inputBytes <= DiskLock.HeavyInputBytes || maxHeap >= (40L << 30))
      10000000L
    else 128L

  /** The resolved session conf for `appName` on `cpus` local cores. */
  def conf(appName: String, cpus: Int, inputBytes: Long): Map[String, String] =
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.app.name" -> appName,
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
        sys.env.getOrElse("SPARK_GRAFT_AGG_FALLBACK",
          aggFallback(inputBytes, Runtime.getRuntime.maxMemory).toString),
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")

  /** A builder carrying [[conf]] for `sfDir`'s input. Disk-heavy inputs
    * first take the [[DiskLock]] (sf1-size runs stage tens of GB; VERDICT
    * r16 #5) unless `SPARK_GRAFT_DISKLOCK_HELD=1` says a parent process
    * already holds it — a Bench solo fork re-acquiring would deadlock
    * against the parent that waits on it.
    */
  def builder(appName: String, sfDir: String): SparkSession.Builder = {
    val bytes = inputBytes(sfDir)
    if (bytes >= DiskLock.HeavyInputBytes &&
        !sys.env.get("SPARK_GRAFT_DISKLOCK_HELD").contains("1"))
      DiskLock.acquire(s"$appName $sfDir")
    SparkSession.builder().config(conf(appName, cpus, bytes))
  }
}
