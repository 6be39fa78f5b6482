package graft

/** The streaming drives share one harness (`graft.streaming.StreamHarness`):
  * only it starts a query under AvailableNow and waits for it, and input
  * tables are read through `Tables`, whose schema memo only works if no
  * one reads the files behind its back. A drive's memory-sink table is
  * gone once the drive returns.
  */
class StreamHarnessSpec extends SparkSpec {

  /** (what, pattern); each may appear only in [[Owners]]. */
  private val OwnedForms = Seq(
    ("the AvailableNow trigger", """Trigger\.AvailableNow\(\)"""),
    ("waiting for a streaming query", """\.awaitTermination\(\)"""),
    ("an input table read around Tables", """spark\.read\.parquet\(s"\$sfDir/"""))

  private val Owners = Set("StreamHarness.scala", "Tables.scala")

  test("only the harness runs a stream and only Tables reads an input table") {
    for (owner <- Owners)
      assert(MainSources.files.exists(_.getName == owner),
        s"no $owner under ${MainSources.root}")
    val offenders = for {
      (path, n, line) <- MainSources.lines()
      if !Owners(new java.io.File(path).getName)
      (what, re) <- OwnedForms
      if re.r.findFirstIn(line).nonEmpty
    } yield s"$path:$n ($what): ${line.trim}"
    assert(offenders.isEmpty,
      "run streams through StreamHarness (runAvailableNow, toMemory, " +
        "appendTo) and read inputs through Tables (or " +
        "StreamHarness.fileStream):\n" + offenders.mkString("\n"))
  }

  test("the harness starts and waits for a query in one place") {
    val harness = MainSources.files.filter(_.getName == "StreamHarness.scala")
    for ((what, re) <- OwnedForms.take(2)) {
      val hits = MainSources.lines(harness)
        .filter(l => re.r.findFirstIn(l._3).nonEmpty)
      assert(hits.size == 1, s"$what: ${hits.mkString("\n")}")
    }
  }

  test("a memory-sink drive leaves no graft_stream_ table behind") {
    def streamTables() = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_stream_")).toSeq
    for (q <- Seq("q_stream_events_hourly", "q_stream_events_anomaly")) {
      assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, q)
      assert(streamTables().isEmpty, s"$q left ${streamTables()}")
    }
  }
}
