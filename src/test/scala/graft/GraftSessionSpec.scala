package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The one session builder's sizing rules, as pure functions of the
  * input size and heap, and the conf it resolves for Bench and Verify.
  */
class GraftSessionSpec extends AnyFunSuite {
  private val MiB64 = 64L * 1024 * 1024
  private val Gb40 = 40L << 30

  test("agg fallback: in-memory at fixture scale or a 40 GB heap, else spillable") {
    assert(GraftSession.aggFallback(MiB64, 8L << 30) == 10000000L)
    assert(GraftSession.aggFallback(MiB64 + 1, 8L << 30) == 128L)
    assert(GraftSession.aggFallback(MiB64 + 1, Gb40) == 10000000L)
    assert(GraftSession.aggFallback(MiB64 + 1, Gb40 - 1) == 128L)
  }

  test("a missing directory sizes to 0; a directory sums its files") {
    assert(GraftSession.inputBytes("/nonexistent/graft-input") == 0L)
    val dir = TempDirs.scoped("graft-session")
    Files.write(dir.resolve("a"), new Array[Byte](3))
    Files.createDirectories(dir.resolve("t"))
    Files.write(dir.resolve("t").resolve("b"), new Array[Byte](5))
    assert(GraftSession.inputBytes(dir.toString) == 8L)
  }

  test("Bench and Verify resolve the same conf for the same (cpus, sfDir)") {
    assume(!sys.env.contains("SPARK_GRAFT_AGG_FALLBACK"))
    val bytes = GraftSession.inputBytes(
      TempDirs.scoped("graft-sf").toString)
    val bench = GraftSession.conf("graft-bench", 6, bytes)
    val verify = GraftSession.conf("graft-verify", 6, bytes)
    assert(bench - "spark.app.name" == verify - "spark.app.name")
    assert(bench("spark.master") == "local[6]")
    assert(bench("spark.sql.shuffle.partitions") == "6")
    assert(bench("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      == "10000000")
  }
}
