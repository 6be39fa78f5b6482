package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.functions._

/** `Tables.load` infers each table's schema once per file set. */
class TablesSpec extends SparkSpec {

  /** Writes `df` as the single parquet FILE `dir/t.parquet`. */
  private def writeTable(df: org.apache.spark.sql.DataFrame, dir: Path): Unit = {
    val tmp = Files.createTempDirectory(dir, "w")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, dir.resolve("t.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    TempDirs.deleteTree(tmp)
  }

  test("a table's schema is inferred once, and again once its file changes") {
    val dir = TempDirs.scoped("graft_tables_")
    try {
      writeTable(spark.range(10).toDF("a"), dir)
      assert(jobsDuring(Tables.load(spark, dir.toString, "t")) > 0,
        "the first load must infer the schema")
      var again: org.apache.spark.sql.DataFrame = null
      assert(jobsDuring { again = Tables.load(spark, dir.toString, "t") } == 0,
        "a second load of an unchanged file ran a job")
      assert(again.columns.toSeq == Seq("a"))
      assert(again.count() == 10)

      // a rewritten file (new size) is inferred again
      writeTable(spark.range(20).toDF("a").withColumn("b", lit("x")), dir)
      var rewritten: org.apache.spark.sql.DataFrame = null
      assert(jobsDuring { rewritten = Tables.load(spark, dir.toString, "t") } > 0,
        "a rewritten file was not inferred again")
      assert(rewritten.columns.toSeq == Seq("a", "b"))
      assert(rewritten.count() == 20)

      // and so is one that only has a new mtime
      val f = dir.resolve("t.parquet").toFile
      assert(f.setLastModified(f.lastModified() - 60000L))
      assert(jobsDuring(Tables.load(spark, dir.toString, "t")) > 0,
        "a file with a new mtime was not inferred again")
    } finally TempDirs.deleteTree(dir)
  }

  test("a missing table fails as spark.read.parquet does") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.load(spark, "/nonexistent-graft-dir", "orders"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }
}
