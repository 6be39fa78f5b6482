package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-once persisted scaffold tables (phase artifacts), keyed by a
  * dataset fingerprint — the Spark analog of the reference's phase
  * files (its `src/PrepareGeoJSON.ts:95-270`): each stage
  * that more than one query reads (the formatted runs, lifts and spots,
  * the normalized runs, the minhash and ANN indexes) is MATERIALIZED
  * once per input dataset, and every consumer scans the artifact. This
  * is the engine's only store for shared frames: unlike a memo of
  * `localCheckpoint`ed frames keyed by SparkSession, an artifact
  * survives executor loss, pins no session, and is visible to the
  * planner (column pruning and filter pushdown apply to its scan).
  *
  * Location: by default one scoped temp directory per process
  * ([[TempDirs.scoped]], deleted at exit). The keys cover the input
  * data and the algorithm parameters, not the code that built the
  * artifact, so a store that outlived its binary would serve a changed
  * formatter the old formatter's output. The `spark.graft.scaffoldDir`
  * conf names a persistent store instead (at warehouse scale a dfs://
  * path owned by the ingest pipeline); such a directory belongs to one
  * build of the engine and must be emptied when the build changes.
  *
  * Concurrency: a JVM-local per-key lock serializes first-builders in
  * one process; cross-process races on a configured directory are
  * benign — the build writes to a temp dir and commits via rename,
  * and both racers produce identical deterministic content (the
  * fingerprint pins the input).
  */
object Scaffold {

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private lazy val processRoot: String =
    TempDirs.scoped("graft-scaffold-").toString

  def root(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.scaffoldDir").getOrElse(processRoot)

  /** Fingerprint extended with the ALGORITHM parameters the artifact
    * was built under — an index keyed only by its input data silently
    * serves stale content when a tunable (plane count derivation,
    * k, shingle width, ...) changes between binaries. Call sites pass
    * every constant the build closure reads.
    */
  def paramsKey(fingerprint: String, params: (String, Any)*): String =
    fingerprint + params.map { case (k, v) => s";$k=$v" }.mkString

  private def keyHash(fingerprint: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(fingerprint.getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** Read the scaffold table `kind` for `fingerprint`, building and
    * persisting it first when absent. The returned DataFrame is a
    * plain parquet scan of the artifact ([[Tables.parquet]]: a re-read
    * runs no schema-inference job).
    */
  def table(spark: SparkSession, kind: String, fingerprint: String)
           (build: => DataFrame): DataFrame =
    commit(spark, kind, fingerprint, Nil)(build)

  /** Like [[table]] but the artifact is written PARTITIONED by
    * `partCols` (hive-style directories) — consumers that filter or
    * join on those columns get partition pruning (static and dynamic)
    * at planning time instead of scanning the whole artifact. This is
    * the layout a 100 TB fact table actually ships with; the
    * unpartitioned variant is for small index-like artifacts.
    */
  def partitionedTable(spark: SparkSession, kind: String,
      fingerprint: String, partCols: Seq[String])
      (build: => DataFrame): DataFrame =
    commit(spark, kind, fingerprint, partCols)(build)

  private def commit(spark: SparkSession, kind: String,
      fingerprint: String, partCols: Seq[String])
      (build: => DataFrame): DataFrame = {
    val dir = new Path(root(spark), s"$kind-${keyHash(fingerprint)}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val done = new Path(dir, "_SUCCESS")
    val lock = locks.computeIfAbsent(dir.toString, _ => new Object)
    lock.synchronized {
      if (!fs.exists(done)) {
        // stale partial commit (crashed writer) — clear before rebuild
        if (fs.exists(dir)) fs.delete(dir, true)
        val tmp = new Path(dir.getParent,
          s".${dir.getName}.tmp-${java.util.UUID.randomUUID}")
        val w = build.write.mode("overwrite")
        (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
          .parquet(tmp.toString)
        if (!fs.rename(tmp, dir)) {
          // lost a cross-process race; the winner's artifact is
          // identical (deterministic build keyed by fingerprint)
          fs.delete(tmp, true)
          if (!fs.exists(done))
            sys.error(s"scaffold commit failed for $dir")
        }
      }
    }
    Tables.parquet(spark, dir.toString)
  }
}
