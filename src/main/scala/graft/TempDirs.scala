package graft

import java.nio.file.{Files, Path}

/** Temp directories that clean themselves up at JVM exit.
  *
  * Several artifact gates (the .mbtiles container, tile-directory
  * extraction, the GeoPackage db, bucketed-join warehouses, streaming
  * checkpoints) stage their work under `Files.createTempDirectory` —
  * and the query closures can't delete eagerly because the returned
  * DataFrame is consumed lazily AFTER the closure returns. Left alone,
  * an at-scale run leaks the staging (the r16 sf1 sweep filled the
  * disk: each tile extraction stages ~17 GB of z/x/y files, and three
  * sweeps' worth of debris ate 50 GB). A shutdown hook bounds the
  * leak to one process lifetime: Verify/Bench exit → staging gone. One
  * hook per process deletes every root still live; a caller that
  * deletes its root itself ([[deleteTree]]) takes it off that set.
  */
object TempDirs {

  /** The roots the exit hook still deletes. */
  private[graft] val live: java.util.Set[Path] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => new java.util.ArrayList(live).forEach(deleteTree(_))))

  def scoped(prefix: String): Path = {
    hook
    val dir = Files.createTempDirectory(prefix)
    live.add(dir)
    dir
  }

  /** Best-effort recursive delete (shutdown context: never throws). */
  def deleteTree(root: Path): Unit = {
    live.remove(root)
    try {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => try Files.deleteIfExists(p) catch {
          case _: Throwable => ()
        })
      finally s.close()
    } catch { case _: Throwable => () }
  }
}
