package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** No dead definitions: every `def`, `val`, `var`, `object`, `class`
  * and `trait` declared in src/main (overrides aside) is named again
  * somewhere in src/ or perfbench/. The scan is lexical — a name that
  * appears as a token exactly once in the whole tree is one nothing
  * calls — so a name used only inside a string (the method name of a
  * `StaticInvoke`) counts as used, and so does a name that collides
  * with another definition's.
  */
class UnreferencedDefsSpec extends AnyFunSuite {

  /** Definitions that may stand unreferenced: name -> reason. */
  private val allowed = Map.empty[String, String]

  private val Decl = ("""^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|""" +
    """final\s+|implicit\s+|lazy\s+|case\s+|sealed\s+|abstract\s+)*""" +
    """(?:def|val|var|object|class|trait)\s+([A-Za-z_]\w*)""").r
  private val Token = """[A-Za-z_]\w*""".r

  /** Every file under `d`, build output and hidden directories aside. */
  private def tree(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f =>
      if (!f.isDirectory) Seq(f)
      else if (f.getName == "target" || f.getName.startsWith(".")) Nil
      else tree(f))

  test("every definition in src/main is named outside its declaration") {
    val project = MainSources.root.getParentFile.getParentFile.getParentFile
    val counts = Seq("src", "perfbench")
      .flatMap(d => tree(new File(project, d)))
      .flatMap(f => Token.findAllIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val decls = for {
      (path, n, line) <- MainSources.lines()
      m <- Decl.findPrefixMatchOf(line)
    } yield (path, n, m.group(1))
    assert(decls.size > 1000, s"only ${decls.size} declarations found")
    val dead = decls.collect {
      case (path, n, name) if counts(name) == 1 && !allowed.contains(name) =>
        s"$path:$n $name"
    }
    assert(dead.isEmpty, "definitions nothing references; delete them " +
      "or name them in `allowed` with a reason:\n" + dead.mkString("\n"))
    assert((allowed.keySet -- decls.map(_._3)).isEmpty,
      "`allowed` names a definition that is gone")
  }
}
