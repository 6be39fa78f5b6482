package graft

import org.apache.spark.sql.functions._

/** The complete in-engine .gpkg container: written by the
  * from-scratch SQLite serializer, validated by Python's stdlib
  * sqlite3 — structural integrity, GPKG application id, metadata
  * tables, per-layer row counts, and a byte-exact geometry BLOB
  * round-trip through the independent reader.
  */
class GpkgSqliteSpec extends SparkSpec {

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

  test("the gpkg file is a valid GeoPackage an independent reader accepts") {
    val dir = TempDirs.scoped("graft_gpkg_spec_")
    val db = dir.resolve("test.gpkg")
    val written = operators.GeoPackage.writeGpkgFile(spark, sf, db)
    assert(written.map(_._1).count(_.startsWith("gpkg_")) == 4)
    assert(written.map(_._1).count(_.startsWith("nga_")) == 2)

    val expected = operators.GeoPackage.gpkgGeoms(spark, sf)
      .groupBy("layer").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val out = py(db,
      """print(con.execute('PRAGMA integrity_check').fetchone()[0])
        |print(con.execute('PRAGMA application_id').fetchone()[0])
        |names = [r[0] for r in con.execute(
        |    "SELECT table_name FROM gpkg_contents ORDER BY table_name")]
        |print(names)
        |for n in names:
        |    print(n, con.execute(f'SELECT count(*) FROM {n}').fetchone()[0])
        |print(con.execute(
        |    'SELECT count(*) FROM gpkg_geometry_columns').fetchone()[0])
        |""".stripMargin)
    assert(out.head == "ok", s"integrity_check: $out")
    assert(out(1) == 0x47504B47.toString) // 'GPKG'
    val names = out(2)
    expected.keys.foreach(l => assert(names.contains(s"'$l'"), s"$l missing"))
    val counts = out.drop(3).dropRight(1)
      .map(_.split(" ")).map(a => a(0) -> a(1).toLong).toMap
    expected.foreach { case (l, n) =>
      assert(counts(l) == n, s"$l: file has ${counts(l)}, engine has $n")
    }
    assert(out.last.toInt == expected.size)
  }

  test("NGA geometry-index tables cover every feature with its envelope") {
    // the reference's indexFeatureTable analog
    // (GeoPackageWriter.ts:589-600): gpkg_extensions registers the
    // extension per feature table, nga_table_index lists the tables,
    // and nga_geometry_index carries one envelope row per fid —
    // queried back through the independent stdlib reader
    val dir = TempDirs.scoped("graft_gpkg_idx_")
    val db = dir.resolve("test.gpkg")
    operators.GeoPackage.writeGpkgFile(spark, sf, db)
    val expected = operators.GeoPackage.gpkgGeoms(spark, sf)
      .groupBy("layer").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val envSample = operators.GeoPackage.gpkgGeoms(spark, sf)
      .filter(col("layer") === "runs").orderBy("fid").limit(1)
      .select(col("fid"), col("g")("minx"), col("g")("maxx"),
        col("g")("miny"), col("g")("maxy")).collect().head

    val out = py(db,
      s"""exts = con.execute(
        |    "SELECT table_name, extension_name FROM gpkg_extensions"
        |    " ORDER BY table_name").fetchall()
        |print(len(exts), all(e[1] == 'nga_geometry_index' for e in exts))
        |print(con.execute('SELECT count(*) FROM nga_table_index')
        |    .fetchone()[0])
        |for t, n in con.execute(
        |    'SELECT table_name, count(*) FROM nga_geometry_index'
        |    ' GROUP BY table_name ORDER BY table_name'):
        |  print(t, n)
        |print(con.execute(
        |    'SELECT min_x, max_x, min_y, max_y FROM nga_geometry_index'
        |    ' WHERE table_name = "runs" AND geom_id = ${envSample.getLong(0)}'
        |    ).fetchone())
        |""".stripMargin)
    assert(out.head == s"${expected.size} True", s"extensions: $out")
    assert(out(1).toInt == expected.size)
    val idxCounts = out.drop(2).dropRight(1)
      .map(_.split(" ")).map(a => a(0) -> a(1).toLong).toMap
    expected.foreach { case (l, n) =>
      assert(idxCounts(l) == n, s"$l index: ${idxCounts.get(l)} vs $n")
    }
    val env = out.last.stripPrefix("(").stripSuffix(")")
      .split(",").map(_.trim.toDouble)
    assert(env(0) == envSample.getDouble(1) && env(1) == envSample.getDouble(2)
      && env(2) == envSample.getDouble(3) && env(3) == envSample.getDouble(4),
      s"envelope mismatch: ${env.toSeq} vs $envSample")
  }

  test("a sampled geometry BLOB round-trips byte-exactly") {
    val dir = TempDirs.scoped("graft_gpkg_spec2_")
    val db = dir.resolve("test.gpkg")
    operators.GeoPackage.writeGpkgFile(spark, sf, db)
    val sample = operators.GeoPackage.gpkgGeoms(spark, sf)
      .filter(col("layer") === "runs").orderBy("fid").limit(1)
      .select(col("fid"), col("g")("blob")).collect().head
    val fid = sample.getLong(0)
    val hex = sample.getAs[Array[Byte]](1)
      .map(b => f"${b & 0xff}%02X").mkString
    val out = py(db,
      s"""print(con.execute(
        |    'SELECT hex(geom) FROM runs WHERE fid = $fid').fetchone()[0])
        |print(con.execute(
        |    'SELECT min_x, max_y FROM gpkg_contents WHERE table_name = "runs"').fetchone())
        |""".stripMargin)
    assert(out.head == hex, "blob bytes differ through the sqlite reader")
    assert(out(1).startsWith("("))
  }
}
