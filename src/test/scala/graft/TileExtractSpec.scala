package graft

import graft.operators.MvtTiles

/** Tile-directory extraction (`tile-join --output-to-directory`
  * parity): the .mbtiles container unpacked into `{z}/{x}/{y}.pbf`
  * files by parallel subtree walks must reproduce the in-engine tile
  * set file-for-file and byte-for-byte, with TMS rows un-flipped back
  * to the XYZ scheme a CDN serves.
  */
class TileExtractSpec extends SparkSpec {

  private lazy val (outDir, nExtracted, direct) = {
    val dir = TempDirs.scoped("graft_extract_spec_")
    val mb = dir.resolve("in.mbtiles")
    MvtTiles.writeMbtilesFile(spark, sf, mb)
    val out = dir.resolve("tiles")
    val n = MvtTiles.extractTiles(spark, mb, out)
    val tiles = MvtTiles.tileBytes(spark, sf)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
        r.getAs[Array[Byte]](4))
      .toMap
    (out, n, tiles)
  }

  test("every engine tile extracts to its z/x/y.pbf path, bytes exact") {
    assert(nExtracted == direct.size.toLong)
    direct.foreach { case ((z, x, y), bytes) =>
      val p = outDir.resolve(s"$z/$x/$y.pbf")
      assert(java.nio.file.Files.exists(p), s"missing $p")
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(p), bytes),
        s"byte mismatch at z=$z x=$x y=$y")
    }
    // and nothing extra: the extracted file count equals the tile count
    val files = java.nio.file.Files.walk(outDir).filter(f =>
      f.toString.endsWith(".pbf")).count()
    assert(files == direct.size.toLong)
  }

  test("a sample extracted tile decodes through MvtDecodeExpr") {
    import org.apache.spark.sql.functions._
    val decoded = MvtTiles.readTileDir(spark, outDir)
      .select(explode(
        graft.functions.MvtDecodeExpr.mvtDecode(col("tile"))).as("l"))
      .agg(sum(col("l.n_features"))).head().getLong(0)
    assert(decoded > 0L, "extracted tiles must decode to features")
  }

  test("oversize tiles ride overflow chains through the whole path") {
    // a real planet tile exceeds one 4 KB page: container write
    // (overflow spill) -> mmap subtree walk (chain reassembly) ->
    // extracted file must be byte-exact
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def blob(n: Int, seed: Int): Array[Byte] =
      Array.tabulate(n)(i => ((i * 131 + seed) & 0xff).toByte)
    val tiles = Seq(
      (3, 1L, 2L, 1, blob(50000, 7)),   // ~13 overflow pages
      (3, 1L, 3L, 1, blob(100, 9)),     // local
      (4, 5L, 5L, 1, blob(4062, 11)))   // first spilled size
      .toDF("zoom", "tile_x", "tile_y", "n_layers", "tile")
    val dir = TempDirs.scoped("graft_bigtile_")
    val mb = dir.resolve("big.mbtiles")
    graft.operators.MvtTiles.writeMbtilesOf(spark, tiles, mb, gzip = false)
    val out = dir.resolve("tiles")
    assert(graft.operators.MvtTiles.extractTiles(spark, mb, out) == 3L)
    Seq((3, 1L, 2L, 50000, 7), (3, 1L, 3L, 100, 9),
      (4, 5L, 5L, 4062, 11)).foreach { case (z, x, y, n, seed) =>
      val got = java.nio.file.Files.readAllBytes(
        out.resolve(s"$z/$x/$y.pbf"))
      assert(got.sameElements(blob(n, seed)), s"z=$z x=$x y=$y")
    }
  }

  test("extracted layout matches the OPERATORS.md serving contract") {
    // every file sits at {z}/{x}/{y}.pbf relative to the root, and the
    // _SUCCESS marker carries the decimal tile count — the CDN-facing
    // contract OPERATORS.md documents
    val re = "^[0-9]+/[0-9]+/[0-9]+\\.pbf$".r
    val rel = {
      val s = java.nio.file.Files.walk(outDir)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .map[String](p => outDir.relativize(p).toString)
        .toArray.toSeq.map(_.toString)
      finally s.close()
    }
    val (pbf, other) = rel.partition(_.endsWith(".pbf"))
    assert(pbf.nonEmpty && pbf.forall(p => re.findFirstIn(p).isDefined),
      s"non-contract pbf paths: ${pbf.filterNot(p => re.findFirstIn(p).isDefined).take(3)}")
    assert(other == Seq(MvtTiles.ExtractSuccessMarker),
      s"unexpected non-tile files: $other")
    val marker = new String(java.nio.file.Files.readAllBytes(
      outDir.resolve(MvtTiles.ExtractSuccessMarker)), "UTF-8")
    assert(marker.toLong == pbf.size.toLong && marker.toLong == nExtracted)
  }

  test("gzip-mode extraction emits RFC 1952 members (Content-Encoding: gzip)") {
    import spark.implicits._
    val tiles = Seq((2, 1L, 1L, 1, Array.tabulate(300)(_.toByte)))
      .toDF("zoom", "tile_x", "tile_y", "n_layers", "tile")
    val dir = TempDirs.scoped("graft_gzct_")
    val mb = dir.resolve("gz.mbtiles")
    MvtTiles.writeMbtilesOf(spark, tiles, mb, gzip = true)
    val out = dir.resolve("tiles")
    assert(MvtTiles.extractTiles(spark, mb, out) == 1L)
    val bytes = java.nio.file.Files.readAllBytes(out.resolve("2/1/1.pbf"))
    // gzip magic: the file is servable AS-IS with Content-Encoding: gzip
    assert((bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
    val plain = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes)).readAllBytes()
    assert(plain.sameElements(Array.tabulate(300)(_.toByte)))
  }

  test("extraction parallelizes across b-tree subtrees") {
    // the fixture container's tiles b-tree must split into multiple
    // independent subtrees (an interior root) — the property the
    // distributed walk relies on; a single-leaf fixture would leave
    // the parallel path untested
    val mb = TempDirs.scoped("graft_extract_spl_")
      .resolve("s.mbtiles")
    MvtTiles.writeMbtilesFile(spark, sf, mb)
    val roots = graft.sources.SqliteReader.openMapped(mb)
      .subtreeRoots("tiles")
    assert(roots.size > 1,
      s"expected an interior tiles root at $sf, got ${roots.size} subtree(s)")
    // mapped open must read identically to the in-memory open
    val viaMap = graft.sources.SqliteReader.openMapped(mb)
      .table("tiles").size
    val viaMem = graft.sources.SqliteReader.open(mb)
      .table("tiles").size
    assert(viaMap == viaMem)
  }
}
