package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Scoped temp dirs share one JVM shutdown hook, and a dir its caller
  * deletes leaves the hook's set.
  */
class TempDirsSpec extends AnyFunSuite {

  /** The JVM's registered shutdown hooks. */
  private def hooks(): Int = {
    val f = Class.forName("java.lang.ApplicationShutdownHooks")
      .getDeclaredField("hooks")
    f.setAccessible(true)
    f.get(null).asInstanceOf[java.util.Map[_, _]].size
  }

  test("repeated scoped + delete calls add at most one hook and leave the set as found") {
    val hooksBefore = hooks()
    val liveBefore = new java.util.HashSet(TempDirs.live)
    for (_ <- 1 to 25) {
      val dir = TempDirs.scoped("graft_tempdirs_spec_")
      assert(TempDirs.live.contains(dir))
      TempDirs.deleteTree(dir)
      assert(!Files.exists(dir) && !TempDirs.live.contains(dir))
    }
    assert(hooks() <= hooksBefore + 1)
    assert(TempDirs.live == liveBefore)
  }
}
