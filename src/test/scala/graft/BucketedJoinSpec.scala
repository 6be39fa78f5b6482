package graft

/** Pins the scale claim behind q_bucketed_join: a join of two tables
  * bucketed by the join key plans with NO shuffle exchange on either
  * side — the pay-shuffle-once-at-write mechanism the fact⋈fact scale
  * notes defer to.
  */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed orders⋈customer join plans without a shuffle exchange") {
    val dir = TempDirs.scoped("graft_bkt_spec_").toString
    try {
      val joined = operators.RelationalQueries.bucketedJoin(spark, sf, dir)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle, got:\n$plan")
      // and it still computes the right thing
      val n = joined.count()
      val expected = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
        .count()
      assert(n == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_customer")
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }
}
