package graft

import org.apache.spark.sql.functions._

/** The in-engine .mbtiles container: valid SQLite per an independent
  * reader, correct TMS row flipping, metadata table, and a byte-exact
  * protobuf tile round-trip through the file.
  */
class MbtilesSpec extends SparkSpec {

  private def py(db: java.nio.file.Path, script: String): Seq[String] = {
    val full = s"""
import sqlite3
con = sqlite3.connect(r'$db')
$script
"""
    val p = new ProcessBuilder("python3", "-c", full)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8")
    assert(p.waitFor() == 0, s"python failed:\n$out")
    out.linesIterator.toSeq
  }

  test("mbtiles file: integrity, counts, TMS flip, tile round-trip") {
    val dir = TempDirs.scoped("graft_mb_spec_")
    val db = dir.resolve("t.mbtiles")
    operators.MvtTiles.writeMbtilesFile(spark, sf, db)

    val expect = operators.MvtTiles.tileBytes(spark, sf)
      .orderBy("zoom", "tile_x", "tile_y").limit(1)
      .select(col("zoom"), col("tile_x"), col("tile_y"), col("tile"))
      .collect().head
    val z = expect.getInt(0)
    val tmsRow = (1L << z) - 1L - expect.getLong(2)
    val hex = expect.getAs[Array[Byte]](3)
      .map(b => f"${b & 0xff}%02X").mkString
    val nTiles = operators.MvtTiles.tileBytes(spark, sf).count()

    val out = py(db,
      s"""print(con.execute('PRAGMA integrity_check').fetchone()[0])
        |print(con.execute('SELECT count(*) FROM tiles').fetchone()[0])
        |print(con.execute(
        |    "SELECT value FROM metadata WHERE name = 'format'").fetchone()[0])
        |print(con.execute('SELECT hex(tile_data) FROM tiles WHERE '
        |    'zoom_level = $z AND tile_column = ${expect.getLong(1)} '
        |    'AND tile_row = $tmsRow').fetchone()[0])
        |print(con.execute('SELECT min(zoom_level), max(zoom_level) '
        |    'FROM tiles').fetchone())
        |""".stripMargin)
    assert(out.head == "ok", s"integrity_check: $out")
    assert(out(1).toLong == nTiles)
    assert(out(2) == "pbf")
    assert(out(3) == hex, "tile bytes differ through the sqlite reader")
    assert(out(4).startsWith("(0,") || out(4).startsWith("(5,"),
      s"zoom range: ${out(4)}")
  }

  test("gzipped container: stock python gzip reads every member back") {
    // tippecanoe's default artifact gzips tile_data; the opt-in flag
    // must produce members an INDEPENDENT gzip implementation accepts,
    // decompressing to the exact uncompressed tile bytes
    val dir = TempDirs.scoped("graft_mb_gz_")
    val db = dir.resolve("t.mbtiles")
    val key = operators.MvtTiles.GzipKey
    spark.conf.set(key, "true")
    try operators.MvtTiles.writeMbtilesFile(spark, sf, db)
    finally spark.conf.unset(key)

    val expect = operators.MvtTiles.tileBytes(spark, sf)
      .orderBy("zoom", "tile_x", "tile_y").limit(1)
      .select(col("zoom"), col("tile_x"), col("tile_y"), col("tile"))
      .collect().head
    val z = expect.getInt(0)
    val tmsRow = (1L << z) - 1L - expect.getLong(2)
    val hex = expect.getAs[Array[Byte]](3)
      .map(b => f"${b & 0xff}%02X").mkString

    val out = py(db,
      s"""import gzip
        |print(con.execute('PRAGMA integrity_check').fetchone()[0])
        |raw = con.execute('SELECT tile_data FROM tiles WHERE '
        |    'zoom_level = $z AND tile_column = ${expect.getLong(1)} '
        |    'AND tile_row = $tmsRow').fetchone()[0]
        |print(raw[:2].hex())
        |print(gzip.decompress(raw).hex().upper())
        |bad = sum(1 for (b,) in con.execute('SELECT tile_data FROM tiles')
        |          if b[:2] != b'\\x1f\\x8b')
        |print(bad)
        |""".stripMargin)
    assert(out.head == "ok", s"integrity_check: $out")
    assert(out(1) == "1f8b", "member magic missing")
    assert(out(2) == hex, "gunzipped bytes differ from the raw tile")
    assert(out(3) == "0", "some members are not gzip")
  }
}
