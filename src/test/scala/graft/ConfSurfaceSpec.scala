package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** The engine's own configuration surface: the only `spark.graft.*`
  * confs in `src/main` are the ones that change what a run writes or
  * where, never which plan shape a stage takes. A stage has one shape;
  * a conf that picks between two is an old shape kept alive.
  */
class ConfSurfaceSpec extends AnyFunSuite {

  test("src/main reads exactly the three spark.graft confs") {
    // a whole key, or a prefix a key is built from (captured as "")
    val key = "\"spark\\.graft\\.([^\"]*)\"".r
    val found = for {
      (path, n, line) <- MainSources.lines()
      m <- key.findAllMatchIn(line)
    } yield m.group(1) -> s"$path:$n"
    assert(MainSources.files.nonEmpty, s"no sources under ${MainSources.root}")
    val extra = found.filterNot(f => ConfSurfaceSpec.Allowed(f._1))
    assert(found.map(_._1).toSet == ConfSurfaceSpec.Allowed,
      "a stage keeps one shape, so no conf may pick one; confs beyond " +
        s"${ConfSurfaceSpec.Allowed}:\n" +
        extra.map(e => s"${e._2}: ${e._1}").mkString("\n"))
  }
}

object ConfSurfaceSpec {
  val Allowed: Set[String] =
    Set("scaffoldDir", "tiles.reliableCheckpoint", "tiles.gzip")
}

/** The Scala sources under `src/main/scala`, for source-scan guards. */
object MainSources {
  lazy val root: java.io.File = {
    val loc = new java.io.File(classOf[ConfSurfaceSpec].getProtectionDomain
      .getCodeSource.getLocation.toURI)
    // target/scala-2.x/test-classes -> the project root
    val project = Iterator.iterate(loc)(_.getParentFile).takeWhile(_ != null)
      .find(d => new java.io.File(d, "src/main/scala").isDirectory)
      .getOrElse(new java.io.File(sys.props("user.dir")))
    new java.io.File(project, "src/main/scala")
  }

  lazy val files: Seq[java.io.File] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) walk(f)
        else Seq(f).filter(_.getName.endsWith(".scala")))
    walk(root)
  }

  /** (path relative to src/main/scala, 1-based line number, line). */
  def lines(files: Seq[java.io.File] = files): Seq[(String, Int, String)] =
    for {
      f <- files
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)
      (line, n) <- src.linesIterator.zipWithIndex.toSeq
    } yield (root.toPath.relativize(f.toPath).toString, n + 1, line)
}
