package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1-size scaffold generator for the scale-surfaced-divergence
  * sweep: amplifies the sf0.1 fixture tables by KEY-OFFSET COPYING —
  * `factor` shifted copies of every table, primary and foreign keys
  * offset by `copy × Stride` so referential integrity holds within
  * each copy and the copies share no key space. Values, text, and
  * timestamps are byte-identical across copies (embeddings get a
  * per-copy epsilon so vector ties stay broken — identical vectors
  * would make ANN top-k order engine-dependent), so the amplified
  * data preserves the fixture's distributions while growing every
  * fact table one decade.
  *
  * Purpose (VERDICT r14 #4): the DuckDB-oracle gotchas that only
  * surface at scale — the QualityModel Cramer determinant guard, the
  * DP coordinate-magnitude fallback — are guarded by loud `require`s
  * mirrored in oracle SQL; running the FULL query sweep once at
  * sf1-size proves the guards hold (or fire symmetrically) on data
  * 10× past the driver's correctness scale:
  *
  *   sbt "runMain graft.ScaleScaffold /tmp/sf1"
  *   sbt "runMain graft.Verify /tmp/sf1 /tmp/verify_sf1"
  *   python3 tools/check.py /tmp/sf1 /tmp/verify_sf1
  *
  * Schema-bounded dims (nation, region) are copied untouched — they
  * do not grow with SF in TPC-H either.
  */
object ScaleScaffold {

  /** Key-space stride between copies — far above any fixture key. */
  val Stride = 1000000000L

  def amplify(s: SparkSession, base: String, out: String,
      factor: Int): Unit = {
    def off(c: String, i: Int): Column = col(c) + lit(Stride * i)
    def write(name: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val b = Tables.load(s, base, name)
      val out0 = (0 until factor).map(i => shift(b, i))
        .reduce(_ unionByName _)
      // adding a Long literal silently widens any narrower key column
      // to BIGINT, so the amplified parquet's schema would drift from
      // the fixture's and the sweep would stop exercising int-typed key
      // handling (ADVICE r15). The fixture keys are all int64 today —
      // assert it stays that way instead of widening silently.
      b.schema.fields.zip(out0.schema.fields).foreach { case (src, dst) =>
        require(src.dataType == dst.dataType,
          s"$name.${src.name}: amplification widened ${src.dataType} to " +
            s"${dst.dataType} — cast the offset back to the source type " +
            "or the scaffold schema diverges from the fixture's")
      }
      out0.write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    write("customer")((d, i) => d.withColumn("c_custkey", off("c_custkey", i)))
    write("supplier")((d, i) => d.withColumn("s_suppkey", off("s_suppkey", i)))
    write("part")((d, i) => d.withColumn("p_partkey", off("p_partkey", i)))
    write("orders")((d, i) => d
      .withColumn("o_orderkey", off("o_orderkey", i))
      .withColumn("o_custkey", off("o_custkey", i)))
    write("lineitem")((d, i) => d
      .withColumn("l_orderkey", off("l_orderkey", i))
      .withColumn("l_partkey", off("l_partkey", i))
      .withColumn("l_suppkey", off("l_suppkey", i)))
    write("events")((d, i) => d
      .withColumn("event_id", off("event_id", i))
      .withColumn("user_id", off("user_id", i)))
    write("documents")((d, i) => d.withColumn("doc_id", off("doc_id", i)))
    write("embeddings")((d, i) => d
      .withColumn("vec_id", off("vec_id", i))
      .withColumn("embedding", transform(col("embedding"),
        x => x + lit(i.toFloat * 1e-3f))))
    Seq("nation", "region").foreach { t =>
      Tables.load(s, base, t).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val base = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.builder("graft-scale-scaffold", base)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    amplify(spark, base, out, factor)
    val rows = Tables.names.map(t =>
      s"$t=${Tables.load(spark, out, t).count()}").mkString(" ")
    println(s"[scaffold] $out factor=$factor $rows")
    spark.stop()
  }
}
