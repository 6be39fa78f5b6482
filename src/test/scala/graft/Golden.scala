package graft

import java.nio.charset.StandardCharsets.UTF_8

/** Golden data under `src/test/resources/golden/`: outputs of stage
  * shapes that no longer exist, frozen before they were deleted, so a
  * spec compares the surviving shape against data its own code did not
  * produce. CHANGES.md records how each file was generated.
  */
object Golden {

  def lines(name: String): List[String] = {
    val in = getClass.getResourceAsStream(s"/golden/$name")
    require(in != null, s"missing golden resource $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** The leading `rows<TAB>n` and `sha256<TAB>hex` lines of a file. */
  def header(lines: List[String]): Map[String, String] =
    lines.take(2).map(_.split("\t", 2)).map { case Array(k, v) => k -> v }.toMap

  /** SHA-256 (hex) of the lines joined by newlines. */
  def sha256(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  /** Freeze the row count and digest of `lines` as the [[header]] of
    * `src/test/resources/golden/<name>`; returns the file written.
    */
  def write(name: String, lines: Seq[String]): java.io.File = {
    val f = new java.io.File(MainSources.root,
      s"../../test/resources/golden/$name").getCanonicalFile
    java.nio.file.Files.write(f.toPath,
      s"rows\t${lines.size}\nsha256\t${sha256(lines)}\n".getBytes(UTF_8))
    f
  }
}
