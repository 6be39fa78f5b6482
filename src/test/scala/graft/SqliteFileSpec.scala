package graft

import graft.sources.SqliteFile

/** The from-scratch SQLite writer, validated by an INDEPENDENT
  * reader — Python's stdlib sqlite3 (a real SQLite build): structural
  * `PRAGMA integrity_check` plus full row round-trips, including a
  * multi-page b-tree with an interior level.
  */
class SqliteFileSpec extends SparkSpec {

  /** Where the specs' db files go: deleted at JVM exit. */
  private lazy val scratch = TempDirs.scoped("graft_sq_")

  /** Run a python snippet against a db file; returns stdout lines. */
  private def py(db: java.nio.file.Path, script: String): Seq[String] = {
    val full = s"""
import sqlite3, sys
con = sqlite3.connect(r'$db')
$script
"""
    val p = new ProcessBuilder("python3", "-c", full)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8")
    assert(p.waitFor() == 0, s"python failed:\n$out")
    out.linesIterator.toSeq
  }

  test("single-page db: integrity ok, typed values round-trip") {
    val db = java.nio.file.Files.createTempFile(scratch, "graft_sq_", ".db")
    SqliteFile.write(db, Seq(SqliteFile.Table(
      "t",
      "CREATE TABLE t (i INTEGER, r REAL, s TEXT, b BLOB, n TEXT)",
      Iterator(
        Seq(1L, 1.5, "alpha", Array[Byte](1, 2, 3), null),
        Seq(-300L, -0.25, "émoji ✓", Array.emptyByteArray, null),
        Seq(1234567890123L, 0.0, "", Array[Byte](-1), "x")))),
      applicationId = 0x47504B47, userVersion = 10300)
    val out = py(db,
      """print(con.execute('PRAGMA integrity_check').fetchone()[0])
        |print(con.execute('PRAGMA application_id').fetchone()[0])
        |print(con.execute('PRAGMA user_version').fetchone()[0])
        |for row in con.execute('SELECT i, r, s, hex(b), n, rowid FROM t ORDER BY rowid'):
        |    print(row)
        |""".stripMargin)
    assert(out.head == "ok", s"integrity_check: $out")
    assert(out(1) == 0x47504B47.toString)
    assert(out(2) == "10300")
    assert(out(3) == "(1, 1.5, 'alpha', '010203', None, 1)")
    assert(out(4) == "(-300, -0.25, 'émoji ✓', '', None, 2)")
    assert(out(5) == "(1234567890123, 0.0, '', 'FF', 'x', 3)")
  }

  test("multi-page b-tree: 20k rows survive an interior level") {
    val db = java.nio.file.Files.createTempFile(scratch, "graft_sq_big_", ".db")
    val n = 20000
    SqliteFile.write(db, Seq(SqliteFile.Table(
      "big", "CREATE TABLE big (k INTEGER, pad TEXT)",
      (1 to n).iterator.map(i =>
        Seq(i.toLong * 7, "pad-" + ("x" * (i % 50)))))))
    val out = py(db,
      """print(con.execute('PRAGMA integrity_check').fetchone()[0])
        |print(con.execute('SELECT count(*), sum(k), min(rowid), max(rowid) FROM big').fetchone())
        |print(con.execute('SELECT k FROM big WHERE rowid = 12345').fetchone())
        |""".stripMargin)
    assert(out.head == "ok", s"integrity_check: $out")
    val sumK = 7L * n * (n + 1) / 2
    assert(out(1) == s"($n, $sumK, 1, $n)")
    assert(out(2) == s"(${12345L * 7},)")
  }

  test("the from-scratch reader round-trips writer output exactly") {
    import graft.sources.SqliteReader
    val db = java.nio.file.Files.createTempFile(scratch, "graft_sq_rt_", ".db")
    val rows = Seq(
      Seq[Any](7L, 2.25, "text-ü", Array[Byte](9, 8), null),
      Seq[Any](-1L, -1e100, "", Array.emptyByteArray, "y"))
    SqliteFile.write(db, Seq(SqliteFile.Table(
      "rt", "CREATE TABLE rt (i INTEGER, r REAL, s TEXT, b BLOB, n TEXT)",
      rows.iterator)))
    val back = SqliteReader.open(db).table("rt").toSeq
    assert(back.map(_._1) == Seq(1L, 2L))
    back.map(_._2).zip(rows).foreach { case (got, want) =>
      got.zip(want).foreach {
        case (g: Array[Byte], w: Array[Byte]) => assert(g.sameElements(w))
        case (g, w) => assert(g == w)
      }
    }
    // and the 20k-row interior-level tree walks completely, in order
    val big = java.nio.file.Files.createTempFile(scratch, "graft_sq_rt2_", ".db")
    val n = 20000
    SqliteFile.write(big, Seq(SqliteFile.Table(
      "big", "CREATE TABLE big (k INTEGER)",
      (1 to n).iterator.map(i => Seq(i.toLong * 3)))))
    val walked = SqliteReader.open(big).table("big").toSeq
    assert(walked.length == n)
    assert(walked.map(_._1) == (1 to n).map(_.toLong))
    assert(walked.map(_._2.head.asInstanceOf[Long]).sum ==
      3L * n * (n + 1) / 2)
  }

  test("record header length is exact at the varint-width boundary") {
    // the header-length varint includes itself; around 2^14 type bytes
    // the extra byte pushes the varint across a width threshold and a
    // single-adjustment encoder writes a wrong header. The fixpoint
    // encoder must stay exact there — decode the header back and check
    // it against the actual layout for column counts spanning the
    // boundary (each NULL column contributes one 1-byte type).
    def varintDecode(b: Array[Byte]): (Long, Int) = {
      var v = 0L; var i = 0
      while ((b(i) & 0x80) != 0) { v = (v << 7) | (b(i) & 0x7f); i += 1 }
      ((v << 7) | (b(i) & 0x7f), i + 1)
    }
    for (cols <- Seq(1, 127, 128, 16381, 16382, 16383, 16384)) {
      val rec = SqliteFile.record(Seq.fill(cols)(null))
      val (hlen, hbytes) = varintDecode(rec)
      assert(hlen == hbytes + cols,
        s"$cols cols: header claims $hlen, actual ${hbytes + cols}")
      assert(rec.length == hlen, s"$cols cols: record has trailing data")
    }
  }

  test("the writer streams: pages hit disk while rows are still arriving") {
    // the O(1)-rows proof for the single-file sink: a lazy 60k-row
    // iterator observes the file's length mid-iteration — with the
    // streaming page writer, filled leaf pages are already on disk
    // long before the iterator is exhausted (a buffering writer would
    // hold every page until the end and the length would still be 0)
    val db = java.nio.file.Files.createTempFile(scratch, "graft_sq_stream_", ".db")
    val n = 60000
    var lenAtMid = -1L
    val rows = (1 to n).iterator.map { i =>
      if (i == n - 1) lenAtMid = java.nio.file.Files.size(db)
      Seq(i.toLong, "v" + i): Seq[Any]
    }
    SqliteFile.write(db, Seq(SqliteFile.Table(
      "s", "CREATE TABLE s (k INTEGER, v TEXT)", rows)))
    val total = java.nio.file.Files.size(db)
    assert(lenAtMid > total / 2,
      s"only $lenAtMid of $total bytes on disk near the end of the row " +
        "stream — the writer is buffering pages")
    val out = py(db,
      """print(con.execute('PRAGMA integrity_check').fetchone()[0])
        |print(con.execute('SELECT count(*), sum(k) FROM s').fetchone())
        |""".stripMargin)
    assert(out.head == "ok", s"integrity_check: $out")
    assert(out(1) == s"($n, ${n.toLong * (n + 1) / 2})")
  }

  test("the reader fails loudly on corrupt containers, never misparses") {
    // SqliteReader feeds oracle-gated rollups (q_gpkg_sqlite,
    // q_mbtiles_file): a silent misparse would silently corrupt a
    // hash the driver trusts, so every corruption class must throw
    import graft.sources.{SqliteFile, SqliteReader}
    val db = java.nio.file.Files.createTempFile(scratch, "graft_sq_corrupt_", ".db")
    SqliteFile.write(db, Seq(SqliteFile.Table(
      "t", "CREATE TABLE t (k, v)",
      (1 to 500).iterator.map(i => Seq(i.toLong, "v" * (i % 40))))))
    val good = java.nio.file.Files.readAllBytes(db)

    def openBytes(mutate: Array[Byte] => Unit): Unit = {
      val b = good.clone()
      mutate(b)
      val p = java.nio.file.Files.createTempFile(scratch, "graft_sq_mut_", ".db")
      java.nio.file.Files.write(p, b)
      SqliteReader.open(p).table("t").foreach(_ => ())
    }

    // wrong magic
    intercept[IllegalArgumentException](openBytes(b => b(0) = 'X'))
    // unsupported page type on the table root (find it via master)
    val root = SqliteReader.open(db).master
      .find(_._2 == "t").get._3
    intercept[IllegalArgumentException](
      openBytes(b => b((root - 1) * 4096) = 0x02)) // index-interior type
    // truncated file: the second page gone — offsets run off the end
    intercept[Exception] {
      val p = java.nio.file.Files.createTempFile(scratch, "graft_sq_trunc_", ".db")
      java.nio.file.Files.write(p, good.take(4096 + 50))
      SqliteReader.open(p).table("t").foreach(_ => ())
    }
    // unknown table name
    intercept[NoSuchElementException](
      SqliteReader.open(db).table("nope").foreach(_ => ()))
  }

  test("overflow payloads: blobs past the 4061-byte local max round-trip") {
    // real planet tiles exceed one page — spilled cells must chain
    // through standard overflow pages that stock SQLite reads back
    val db = java.nio.file.Files.createTempFile(scratch, "graft_sq_ovf_", ".db")
    def blob(n: Int): Array[Byte] =
      Array.tabulate(n)(i => ((i * 31 + n) & 0xff).toByte)
    val sizes = Seq(4061, 4062, 5000, 50000, 200001)
    SqliteFile.write(db, Seq(SqliteFile.Table(
      "o", "CREATE TABLE o (n INTEGER, b BLOB, s TEXT)",
      sizes.iterator.map(n =>
        Seq(n.toLong, blob(n), "tail-" + n)))))
    val out = py(db,
      """import hashlib
        |print(con.execute('PRAGMA integrity_check').fetchone()[0])
        |for n, b, s in con.execute('SELECT n, b, s FROM o ORDER BY rowid'):
        |    print(n, len(b), hashlib.md5(b).hexdigest(), s)
        |""".stripMargin)
    assert(out.head == "ok", s"integrity_check: $out")
    sizes.zipWithIndex.foreach { case (n, i) =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(blob(n)).map("%02x".format(_)).mkString
      assert(out(i + 1) == s"$n $n $md5 tail-$n")
    }
    // the from-scratch reader reassembles the same chains
    import graft.sources.SqliteReader
    val back = SqliteReader.open(db).table("o").toSeq
    assert(back.map(_._2.head) == sizes.map(_.toLong))
    back.zip(sizes).foreach { case ((_, vs), n) =>
      assert(vs(1).asInstanceOf[Array[Byte]].sameElements(blob(n)))
      assert(vs(2) == s"tail-$n")
    }
    // a HUGE string (text spills identically to blobs)
    val db2 = java.nio.file.Files.createTempFile(scratch, "graft_sq_ovf2_", ".db")
    val big = ("abcdefgh" * 10000) + "Z"
    SqliteFile.write(db2, Seq(SqliteFile.Table(
      "t", "CREATE TABLE t (s TEXT)", Iterator(Seq(big)))))
    val out2 = py(db2,
      """print(con.execute('PRAGMA integrity_check').fetchone()[0])
        |s = con.execute('SELECT s FROM t').fetchone()[0]
        |print(len(s), s[-1])
        |""".stripMargin)
    assert(out2 == Seq("ok", s"${big.length} Z"))
  }

  test("b-tree depth is unbounded: a forced depth-3+ tree reads back") {
    // 250^2 real leaves would be a 470 MB fixture; force depth with a
    // tiny fan-out instead — the same code path stock SQLite then
    // walks (maxKids is the writer's only branching knob)
    val db = java.nio.file.Files.createTempFile(scratch, "graft_sq_deep_", ".db")
    val n = 3000 // ~430 leaves at 7 rows/leaf; maxKids=3 → depth >= 5
    SqliteFile.write(db, Seq(SqliteFile.Table(
      "d", "CREATE TABLE d (k INTEGER, pad TEXT)",
      (1 to n).iterator.map(i => Seq(i.toLong, "p" * 500)))),
      maxKids = 3)
    val out = py(db,
      """print(con.execute('PRAGMA integrity_check').fetchone()[0])
        |print(con.execute('SELECT count(*), sum(k) FROM d').fetchone())
        |print(con.execute('SELECT k FROM d WHERE rowid = 2345').fetchone())
        |""".stripMargin)
    assert(out.head == "ok", s"integrity_check: $out")
    assert(out(1) == s"($n, ${n.toLong * (n + 1) / 2})")
    assert(out(2) == "(2345,)")
    // the from-scratch reader recurses the same depths
    import graft.sources.SqliteReader
    val walked = SqliteReader.open(db).table("d").toSeq
    assert(walked.length == n)
    assert(walked.map(_._1) == (1 to n).map(_.toLong))
    // and subtree splits still cover the table exactly once
    val dbm = SqliteReader.openMapped(db)
    val roots = dbm.subtreeRoots("d")
    assert(roots.size > 1)
    assert(roots.flatMap(dbm.walk).map(_._1) == (1 to n).map(_.toLong))
  }

  test("empty table and multiple tables coexist") {
    val db = java.nio.file.Files.createTempFile(scratch, "graft_sq_multi_", ".db")
    SqliteFile.write(db, Seq(
      SqliteFile.Table("a", "CREATE TABLE a (x INTEGER)",
        Iterator(Seq(42L))),
      SqliteFile.Table("empty", "CREATE TABLE empty (y TEXT)",
        Iterator.empty),
      SqliteFile.Table("c", "CREATE TABLE c (z TEXT)",
        Iterator(Seq("hello"), Seq("world")))))
    val out = py(db,
      """print(con.execute('PRAGMA integrity_check').fetchone()[0])
        |print([r[0] for r in con.execute("SELECT name FROM sqlite_master ORDER BY name")])
        |print(con.execute('SELECT count(*) FROM empty').fetchone()[0])
        |print([r[0] for r in con.execute('SELECT z FROM c ORDER BY rowid')])
        |""".stripMargin)
    assert(out.head == "ok", s"integrity_check: $out")
    assert(out(1) == "['a', 'c', 'empty']")
    assert(out(2) == "0")
    assert(out(3) == "['hello', 'world']")
  }
}
