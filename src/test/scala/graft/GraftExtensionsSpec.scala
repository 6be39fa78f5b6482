package graft

import org.apache.spark.sql.functions._

/** SQL-surface checks: the registered functions must resolve in pure
  * SQL and agree exactly with their DataFrame-API twins (same
  * Expression nodes, so bit-identical results).
  */
class GraftExtensionsSpec extends SparkSpec {

  test("graft_line_length_m resolves in SQL and matches the DSL expression") {
    GraftExtensions.register(spark)
    val sqlRes = spark.sql(
      """SELECT graft_line_length_m(
        |  array(array(7.0d, 46.0d), array(7.01d, 46.0d), array(7.01d, 46.01d)))
        |  AS m""".stripMargin).collect().head.getDouble(0)
    import spark.implicits._
    val dslRes = Seq(Seq(Seq(7.0, 46.0), Seq(7.01, 46.0), Seq(7.01, 46.01)))
      .toDF("coords")
      .select(functions.GeoFunctions.lineLengthM(col("coords")))
      .collect().head.getDouble(0)
    assert(sqlRes == dslRes)
    assert(sqlRes > 1800 && sqlRes < 2100) // ~0.78km + ~1.11km
  }

  test("graft_vec_dot resolves in SQL and handles arity errors") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT graft_vec_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .collect().head.getDouble(0)
    assert(got == 32.0)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_vec_dot(array(1.0d))").collect()
    }
    assert(e.getMessage.contains("graft_vec_dot"))
  }

  test("graft_hash32/graft_hash64 match the portable hash helpers") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = Seq("a", "hello world", "42", "").toDF("s")
    df.createOrReplaceTempView("hash_probe")
    val viaSql = spark.sql(
      "SELECT graft_hash32(s) AS h32, graft_hash64(s) AS h64 " +
        "FROM hash_probe ORDER BY s").collect()
    val viaDsl = df.select(
        functions.HashFunctions.hash32(col("s")).as("h32"),
        functions.HashFunctions.hash64(col("s")).as("h64"))
      .orderBy(col("s")).collect()
    assert(viaSql.map(_.toString).toSeq == viaDsl.map(_.toString).toSeq)
  }

  test("sketch kernels resolve in SQL and match the DSL twins") {
    GraftExtensions.register(spark)
    import spark.implicits._
    // shingles + minhash via SQL == DSL kernels
    val sqlSig = spark.sql(
      """SELECT graft_minhash_sig(
        |  graft_shingles(array('a','b','c','d'), 3), 4) AS sig""".stripMargin)
      .collect().head.getSeq[Long](0)
    val dslSig = Seq(Tuple1(Seq("a", "b", "c", "d"))).toDF("toks")
      .select(functions.TextFunctions.minhashSignature(
        functions.TextFunctions.shingles(col("toks"), 3), 4).as("sig"))
      .collect().head.getSeq[Long](0)
    assert(sqlSig == dslSig && sqlSig.size == 4)
    // gram hashes + rolling min + simhash
    val r = spark.sql(
      """SELECT graft_rolling_min(graft_gram_hashes('abcdefgh', 3), 2) AS m,
        |  graft_simhash32(array(CAST(5 AS BIGINT))) AS sh""".stripMargin)
      .collect().head
    assert(r.getSeq[Long](0).size == 5) // 6 grams → 5 windows
    assert(r.getLong(1) == 5L)          // single element majority = itself
    // non-literal width is rejected
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingles(array('a'), CAST(rand()*2 AS INT))")
        .collect()
    }
    assert(e.getMessage.contains("graft_shingles"))
  }

  test("graft_pii_redact matches the DataFrame scrubber") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val s = "mail user1234567@example.com or +1-555-0134, acct 987654321"
    val sqlRes = spark.sql(
      s"SELECT graft_pii_redact('$s') AS r").collect().head.getString(0)
    val dslRes = Seq(s).toDF("t")
      .select(operators.Pii.redact(col("t")))
      .collect().head.getString(0)
    assert(sqlRes == dslRes)
    assert(sqlRes == "mail [EMAIL] or [PHONE], acct [ID]")
  }

  test("graft_morton_z matches the layout operator's interleave") {
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_morton_z(x, y) AS z FROM VALUES (0, 0), (1, 0), " +
        "(0, 1), (35999, 17999), (65535, 65535) AS t(x, y) ORDER BY z")
      .collect().map(_.getLong(0)).toSeq
    import spark.implicits._
    val viaDsl = Seq((0, 0), (1, 0), (0, 1), (35999, 17999), (65535, 65535))
      .toDF("x", "y")
      .select(operators.SpatialLayout.mortonZ(col("x"), col("y")).as("z"))
      .orderBy("z").collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaDsl)
    assert(viaSql.take(3) == Seq(0L, 1L, 2L)) // x→even bit, y→odd bit
  }

  test("media decoders answer from pure SQL") {
    GraftExtensions.register(spark)
    // the real 1×1 PNG ImageDimsSpec uses, via SQL only
    val png = "89504E470D0A1A0A0000000D4948445200000001000000010802000000"
    val r = spark.sql(
      s"SELECT graft_image_dims(unhex('$png')) AS d").collect().head
      .getStruct(0)
    assert(r.getString(0) == "png" && r.getInt(1) == 1 && r.getInt(2) == 1)
    // a minimal WAV header: RIFF + fmt chunk, 1ch 8000Hz 8-bit, no data
    val wav = "52494646" + "24000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" +
      "401F0000" + "0100" + "0800" + "64617461" + "00000000"
    val a = spark.sql(
      s"SELECT graft_audio_meta(unhex('$wav')) AS m").collect().head
      .getStruct(0)
    assert(a.getInt(0) == 1 && a.getInt(1) == 8000)
  }

  test("extensions class wires the same descriptions as register()") {
    val ext = new GraftExtensions
    // applying to a fresh SparkSessionExtensions must accept every
    // description without throwing (the builder-time injection path)
    ext.apply(new org.apache.spark.sql.SparkSessionExtensions)
    assert(GraftExtensions.descriptions.map(_._1.funcName).sorted ==
      Seq("graft_asof_match", "graft_audio_meta", "graft_gpkg_geom",
        "graft_gram_hashes", "graft_hash32", "graft_hash64",
        "graft_hilbert_d", "graft_image_dims", "graft_in_range",
        "graft_line_length_m", "graft_minhash_sig", "graft_morton_z",
        "graft_mvt_decode", "graft_pii_redact", "graft_rolling_min",
        "graft_shingles", "graft_simhash32", "graft_st_dwithin",
        "graft_vec_dot", "graft_video_meta"))
  }

  test("both entry points install the one rule and strategy list") {
    // the SparkSessionExtensions path: the hooks injected into them
    // (their build methods are package-private, so reached reflectively)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    def built(method: String): Any = ext.getClass
      .getMethod(method, classOf[org.apache.spark.sql.SparkSession])
      .invoke(ext, spark)
    assert(built("buildOptimizerRules") == GraftExtensions.rules)
    assert(built("buildPlannerStrategies") == GraftExtensions.strategies)
    // the live-session path, applied twice: the same list, once
    val s = spark.newSession()
    GraftExtensions.registerPlanning(s)
    GraftExtensions.registerPlanning(s)
    assert(s.experimental.extraOptimizations == GraftExtensions.rules)
    assert(s.experimental.extraStrategies == GraftExtensions.strategies)
  }

  test("tile and geopackage kernels answer from pure SQL") {
    GraftExtensions.register(spark)
    // encode one single-spot tile with the batch kernel, decode it
    // back in pure SQL — the round-trip the driver gate runs, here on
    // the SQL surface
    val tile = operators.MvtTiles.tileBytes(spark, sf)
      .orderBy("zoom", "tile_x", "tile_y").limit(1)
    tile.createOrReplaceTempView("one_tile")
    val r = spark.sql(
      """SELECT s.layer, s.n_features, s.n_points
        |FROM one_tile, LATERAL explode(graft_mvt_decode(tile)) AS t(s)
        |ORDER BY s.layer LIMIT 1""".stripMargin).collect().head
    val st = r.getStruct _
    assert(r.getString(0).nonEmpty)
    assert(r.getLong(1) >= 1 && r.getLong(2) >= r.getLong(1))
    // a GP-header+WKB point blob built from SQL: the GP magic leads
    // the blob and the envelope metadata carries the point through
    val g = spark.sql(
      """SELECT g.* FROM (SELECT graft_gpkg_geom(1, array(array(array(
        |  named_struct('lon', 7.5d, 'lat', 46.5d))))) AS g)""".stripMargin)
      .collect().head
    val blob = g.getAs[Array[Byte]]("blob")
    assert(blob(0) == 'G'.toByte && blob(1) == 'P'.toByte)
    assert(g.getAs[Int]("n_points") == 1)
    assert(g.getAs[Double]("minx") == 7.5 && g.getAs[Double]("maxy") == 46.5)
  }

  test("graft_gpkg_geom refuses parts that are not array^3<struct<lon, lat>>") {
    GraftExtensions.register(spark)
    // these cannot be cast to the (lon, lat) shape, so the call fails at
    // analysis instead of reaching the encoder's raw reads
    Seq("array(1)", "array(array(array(5)))", "array('a')").foreach { p =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT graft_gpkg_geom(1, $p)").queryExecution.assertAnalyzed()
      }
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), s"$p: ${e.getMessage}")
    }
    // int coordinates inside the right struct shape are cast to double
    val g = spark.sql(
      """SELECT graft_gpkg_geom(1, array(array(array(
        |  named_struct('lon', 7, 'lat', 46))))) AS g""".stripMargin)
      .collect().head.getStruct(0)
    assert(g.getDouble(2) == 7.0 && g.getDouble(5) == 46.0)
  }
}
