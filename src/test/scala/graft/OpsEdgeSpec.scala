package graft

import org.apache.spark.sql.functions._

/** Edge-semantics pins for the round-11 second-half operators — the
  * boundaries the driver's testdata may not hit.
  */
class OpsEdgeSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureDir(name: String): String =
    TempDirs.scoped(s"graft-edge-$name").toString

  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, Long, String, Double)]): Unit =
    rows.toDF("event_id", "ms", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .withColumn("props", lit("{\"k\": 1}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("theil-sen: negative non-exact slope floors like the oracle") {
    val dir = fixtureDir("trend")
    val day = 86400000L
    val t0 = 472223L * 3600000L * 24 // stable base
    // day 0: 10 events, day 3: 3 events → slope floor(-7e6/3) = -2333334
    val rows =
      (1L to 10L).map(i => (i, t0 + i, i, "view", 1.0)) ++
        (11L to 13L).map(i => (i, t0 + 3 * day + i, i, "view", 1.0))
    writeEvents(dir, rows)
    val r = SparkEntry.queries("q_events_trend")(spark, dir).collect().head
    assert(r.getAs[Long]("n_days") == 2L)
    assert(r.getAs[Long]("n_pairs") == 1L)
    assert(r.getAs[Long]("trend_slope_e6_per_day") == -2333334L) // floored
  }

  test("histogram quantile: cum·100 == tot·q boundary bin is selected") {
    val dir = fixtureDir("hist")
    val t0 = 1700000000000L
    // 4 events at $5 (bin 0), 4 at $15 (bin 1): P50 hits bin 0 exactly
    val rows = (1L to 4L).map(i => (i, t0 + i, i, "view", 5.0)) ++
      (5L to 8L).map(i => (i, t0 + i, i, "view", 15.0))
    writeEvents(dir, rows)
    val r = SparkEntry.queries("q_events_value_histogram")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n") == 8L)
    assert(r.getAs[Long]("p50_lo_cents") == 0L)    // 400 >= 400 → bin 0
    assert(r.getAs[Long]("p90_lo_cents") == 1000L) // 400 < 720 → bin 1
    assert(r.getAs[Long]("p99_lo_cents") == 1000L)
  }

  test("scd-2: change detection opens intervals, last stays open") {
    val dir = fixtureDir("scd")
    val t0 = 1700000000000L
    // tiers via props.k % 4: k sequence 1,1,2,2,1 → intervals 1|2|1
    val ks = Seq(1, 1, 2, 2, 1)
    ks.zipWithIndex.map { case (k, i) =>
        (i.toLong + 1, t0 + i * 10L, 7L, "view", 1.0, s"""{"k": $k}""")
      }.toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val iv = SparkEntry.queries("q_events_scd")(spark, dir)
      .collect().map(r => (r.getAs[Long]("tier"),
        r.getAs[Long]("valid_from_ms") - t0,
        if (r.getAs[Long]("valid_to_ms") == -1L) -1L
        else r.getAs[Long]("valid_to_ms") - t0))
    assert(iv.toSeq == Seq((1L, 0L, 20L), (2L, 20L, 40L), (1L, 40L, -1L)))
  }

  test("merge upsert: all three MERGE branches reconcile exactly") {
    val dir = fixtureDir("merge")
    (1L to 60L).map(k => (k, k, "O", 100.0 * k,
        java.sql.Timestamp.valueOf("1997-01-01 00:00:00"), "P"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // expected masks via the same portable hash the operator uses
    import graft.functions.HashFunctions
    def mask(tag: String, m: Int): Set[Long] =
      spark.range(1, 61).select(col("id"),
          pmod(HashFunctions.hash32(concat(col("id").cast("string"),
            lit(s":$tag"))), lit(m)).as("h"))
        .collect().filter(_.getLong(1) == 0L).map(_.getLong(0)).toSet
    val del = mask("d", 20); val upd = mask("u", 10); val ins = mask("i", 20)
    val out = SparkEntry.queries("q_merge_upsert")(spark, dir).collect()
    val byStatus = out.map(r => r.getAs[String]("o_orderstatus") ->
      ((r.getAs[Long]("n_orders"), r.getAs[Long]("revenue_cents")))).toMap
    val survivors = (1L to 60L).filterNot(del.contains)
    val expO = survivors.map(k =>
      if (upd.contains(k)) k * 10000L * 110 / 100 else k * 10000L).sum
    assert(byStatus("O") == ((survivors.size.toLong, expO)))
    if (ins.nonEmpty)
      assert(byStatus("N") ==
        ((ins.size.toLong, ins.map(_ * 10000L).sum)))
  }

  test("weekday profile: balanced two-day fixture indexes at 10000 bp") {
    val dir = fixtureDir("weekday")
    val day = 86400000L
    val t0 = 472223L * 3600000L * 24
    val rows = (1L to 5L).map(i => (i, t0 + i, i, "view", 1.0)) ++
      (6L to 10L).map(i => (i, t0 + day + i, i, "view", 1.0))
    writeEvents(dir, rows)
    val r = SparkEntry.queries("q_events_weekday_profile")(spark, dir)
      .collect()
    assert(r.length == 2)
    assert(r.forall(_.getAs[Long]("index_bp") == 10000L))
  }

  test("containment: substring doc is contained, superset is not") {
    val dir = fixtureDir("contain")
    val core = "alpha beta gamma delta epsilon zeta eta theta"
    val big = s"$core iota kappa lambda mu nu xi omicron pi rho sigma tau"
    Seq((0L, core, "en", "s1", core.length.toLong),
        (1L, big, "en", "s1", big.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_dedup_containment")(spark, dir)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("doc_a") == 0L && r.getAs[Long]("doc_b") == 1L)
    assert(r.getAs[Long]("contain_a_bp") == 10000L) // fully contained
    assert(r.getAs[Long]("contain_b_bp") < 10000L)  // but not vice versa
  }
}
