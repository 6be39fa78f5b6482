package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions
import graft.operators.GridJoin

/** The declarative distance join: `graft_st_dwithin` in a join
  * condition must (a) produce exactly the pairs the grid join
  * produces, and (b) be PLANNED as a grid-cell equi-join
  * — no cartesian product / nested-loop join in the physical plan.
  */
class DistanceJoinRuleSpec extends SparkSpec {

  private def pts(n: Int, salt: Int, idCol: String): DataFrame = {
    import spark.implicits._
    // deterministic pseudo-random points in a ~1.5 deg box in the Alps
    (1 to n).map { i =>
      val h = (i * 2654435761L + salt * 40503L) & 0xFFFFFFFFL
      val lon = 6.0 + (h % 15000L) / 10000.0
      val lat = 45.0 + ((h / 15000L) % 15000L) / 10000.0
      (i.toLong, lon, lat)
    }.toDF(idCol, s"${idCol}_lon", s"${idCol}_lat")
  }

  private lazy val a = pts(400, 1, "a").cache()
  private lazy val b = pts(300, 2, "b").cache()

  test("dwithin join matches the hand-written grid kernel") {
    GraftExtensions.register(spark)
    val radius = 9000.0
    val declared = a.join(b,
        GeoFunctions.stDWithin(col("a_lon"), col("a_lat"),
          col("b_lon"), col("b_lat"), lit(radius)))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet

    val kernel = GridJoin(a, b, (col("a_lon"), col("a_lat")),
        (col("b_lon"), col("b_lat")),
        radius / graft.plans.DistanceJoinRule.MetersPerCellDegree,
        GridJoin.Within(radius))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet

    assert(declared.nonEmpty, "fixture produced no pairs")
    assert(declared === kernel)
  }

  test("the rule rewrites the join: no cartesian, grid cells joined") {
    GraftExtensions.register(spark)
    val joined = a.join(b,
      GeoFunctions.stDWithin(col("a_lon"), col("a_lat"),
        col("b_lon"), col("b_lat"), lit(500.0)))
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical)
    assert(!physical.contains("BroadcastNestedLoopJoin"), physical)
    assert(joined.queryExecution.optimizedPlan.toString
      .contains("graft_dwithin_cell"), "grid cell column not planned")
  }

  test("swapped orientation (left point named second) still rewrites") {
    GraftExtensions.register(spark)
    val joined = a.join(b,
      GeoFunctions.stDWithin(col("b_lon"), col("b_lat"),
        col("a_lon"), col("a_lat"), lit(9000.0)))
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical)
    val n = joined.count()
    val expected = a.join(b,
      GeoFunctions.stDWithin(col("a_lon"), col("a_lat"),
        col("b_lon"), col("b_lat"), lit(9000.0))).count()
    assert(n === expected)
  }

  test("pure SQL JOIN ON graft_st_dwithin plans and answers") {
    GraftExtensions.register(spark)
    a.createOrReplaceTempView("dwithin_a")
    b.createOrReplaceTempView("dwithin_b")
    val df = spark.sql(
      """SELECT a, b FROM dwithin_a JOIN dwithin_b
        |ON graft_st_dwithin(a_lon, a_lat, b_lon, b_lat, 9000)""".stripMargin)
    assert(!df.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    val viaDsl = a.join(b,
      GeoFunctions.stDWithin(col("a_lon"), col("a_lat"),
        col("b_lon"), col("b_lat"), lit(9000.0))).count()
    assert(df.count() === viaDsl)
  }

  test("extra conjuncts survive the rewrite") {
    GraftExtensions.register(spark)
    val joined = a.join(b,
      GeoFunctions.stDWithin(col("a_lon"), col("a_lat"),
        col("b_lon"), col("b_lat"), lit(9000.0)) &&
        col("a") =!= col("b"))
    assert(!joined.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    val all = a.join(b,
      GeoFunctions.stDWithin(col("a_lon"), col("a_lat"),
        col("b_lon"), col("b_lat"), lit(9000.0)))
      .filter(col("a") =!= col("b")).count()
    assert(joined.count() === all)
  }

  test("null coordinates never match and do not break the rewrite") {
    GraftExtensions.register(spark)
    val withNull = a.withColumn("a_lon",
      when(col("a") <= 5, lit(null).cast("double")).otherwise(col("a_lon")))
    val joined = withNull.join(b,
      GeoFunctions.stDWithin(col("a_lon"), col("a_lat"),
        col("b_lon"), col("b_lat"), lit(9000.0)))
    assert(joined.filter(col("a") <= 5).count() === 0L)
  }

  test("non-literal radius falls back to correct (unrewritten) eval") {
    GraftExtensions.register(spark)
    // radius depends on the row -> rule must not fire; result still right
    val joined = a.join(b,
      GeoFunctions.stDWithin(col("a_lon"), col("a_lat"),
        col("b_lon"), col("b_lat"),
        when(col("a") % 2 === 0, lit(9000.0)).otherwise(lit(0.000001))))
    val even = a.filter(col("a") % 2 === 0)
    val expected = even.join(b,
      GeoFunctions.stDWithin(col("a_lon"), col("a_lat"),
        col("b_lon"), col("b_lat"), lit(9000.0))).count()
    assert(joined.count() === expected)
  }

  test("high-latitude pairs are complete (lat-aware longitude walk)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    // At lat 84 deg, 500 m spans ~0.043 deg of longitude = ~2.5 cells
    // of 500/28800 deg — a fixed 3x3 walk misses the pair; the
    // lat-aware walk must find it. Brute-force haversine is the truth.
    val l = Seq((1L, 0.0, 84.0), (2L, 10.0, 84.0)).toDF("l", "l_lon", "l_lat")
    val r = Seq((10L, 0.0425, 84.0), (20L, 10.0425, 84.00005))
      .toDF("r", "r_lon", "r_lat")
    val joined = l.join(r,
      GeoFunctions.stDWithin(col("l_lon"), col("l_lat"),
        col("r_lon"), col("r_lat"), lit(500.0)))
    assert(!joined.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    val got = joined.select("l", "r").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val truth = l.crossJoin(r)
      .filter(GeoFunctions.haversineM(col("l_lon"), col("l_lat"),
        col("r_lon"), col("r_lat")) <= 500.0)
      .select("l", "r").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture must contain in-radius pairs")
    assert(got === truth)
  }

  test("cell explode width: 9 cells in the alps, widened near the pole") {
    GraftExtensions.register(spark)
    import spark.implicits._
    def cellsAt(lat: Double): Int = {
      val l = Seq((1L, 6.5, lat)).toDF("l", "l_lon", "l_lat")
      val r = Seq((10L, 6.5, lat)).toDF("r", "r_lon", "r_lat")
      val joined = l.join(r,
        GeoFunctions.stDWithin(col("l_lon"), col("l_lat"),
          col("r_lon"), col("r_lat"), lit(500.0)))
      val gen = joined.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }
      assert(gen.nonEmpty, "rule did not plan a Generate")
      // evaluate the planned cell array against the single left row
      val bound = org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(gen.head.generator.children.head,
          gen.head.child.output)
      val arr = bound
        .eval(org.apache.spark.sql.catalyst.InternalRow(1L, 6.5, lat))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      arr.numElements()
    }
    // lat-aware widening must not inflate the common case...
    assert(cellsAt(45.5) === 9)
    assert(cellsAt(74.9) === 9)
    // ...is already needed at 75.0: a point 499.9 m due west of a cell's
    // west edge lies 0.01737° away, beyond the 0.01736° neighbour cell
    assert(cellsAt(75.0) === 15)
    // ...and must widen where a 3x3 walk goes incomplete
    assert(cellsAt(84.0) === 21) // half-width 3 -> 7 x 3
  }

  test("scalar predicate outside a join still evaluates (filter use)") {
    GraftExtensions.register(spark)
    val n = a.filter(GeoFunctions.stDWithin(col("a_lon"), col("a_lat"),
      lit(6.75), lit(45.75), lit(30000.0))).count()
    val m = a.filter(GeoFunctions.haversineM(col("a_lon"), col("a_lat"),
      lit(6.75), lit(45.75)) <= 30000.0).count()
    assert(n === m && n > 0)
  }
}
