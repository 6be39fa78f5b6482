package graft

import scala.collection.mutable

import graft.functions.GeoFunctions
import graft.operators.{Clustering, GridJoin, SkiQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The grid join is complete at every latitude: each proximity path
  * over it equals a brute-force haversine cross join on points at
  * 40°–85° in both hemispheres, where east–west pairs 400–499 m apart
  * span two or more 0.01° cells (a cell is 409 m wide at 68.4°N).
  * Also guards that the grid join is the only cell walk in src/main.
  */
class GridJoinSpec extends SparkSpec {
  import spark.implicits._

  private val R = 500.0
  private val Cell = 0.01
  /** metres in a degree on the haversine sphere */
  private val MPerDeg = GeoFunctions.EarthRadiusM * math.Pi / 180.0

  private val lats = Seq(40.0, 52.5, 61.0, 63.4, 64.2, 66.5, 68.4, 71.0,
    74.5, 78.0, 81.0, 83.5, 85.0)

  /** One group per (latitude, hemisphere), 1° of longitude apart: an
    * anchor near the east edge of its cell, a chain east at 471 m and
    * 499 m hops, a point 505 m beyond the chain, and points 400 m
    * west, 450 m north and ~424 m north-east of the anchor.
    */
  private val points: Seq[(Long, String, Double, Double)] =
    for {
      (lat0, i) <- lats.zipWithIndex
      sign <- Seq(1, -1)
      g = (i * 2 + (if (sign > 0) 0 else 1)).toLong
      lat = sign * lat0
      dLon = (m: Double) => m / (MPerDeg * math.cos(math.toRadians(lat0)))
      lon = 5.0 + g + 0.009
      (kind, x, y) <- Seq(
        ("anchor", lon, lat),
        ("east1", lon + dLon(471), lat),
        ("east2", lon + dLon(471) + dLon(499), lat),
        ("far", lon + dLon(471) + dLon(499) + dLon(505), lat),
        ("west", lon - dLon(400), lat),
        ("north", lon, lat + sign * 450 / MPerDeg),
        ("diag", lon + dLon(300), lat + sign * 300 / MPerDeg))
    } yield (g * 10 + Seq("anchor", "east1", "east2", "far", "west",
      "north", "diag").indexOf(kind), kind, x, y)

  private lazy val pts: DataFrame =
    points.toDF("id", "kind", "lon", "lat").cache()

  /** (a, b) ids within R by brute force, a from `l`, b from `r`. */
  private def bruteForce(l: DataFrame, r: DataFrame): Set[(Long, Long)] =
    l.select(col("id").as("a"), col("lon").as("alon"), col("lat").as("alat"))
      .crossJoin(r.select(col("id").as("b"), col("lon"), col("lat")))
      .filter(GeoFunctions.haversineM(col("alon"), col("alat"),
        col("lon"), col("lat")) <= R)
      .select("a", "b").as[(Long, Long)].collect().toSet

  private lazy val anchors = pts.filter(col("kind") === "anchor")
  private lazy val others = pts.filter(col("kind") =!= "anchor")
  private lazy val allPairs = bruteForce(pts, pts).filter(p => p._1 != p._2)

  test("the fixture has multi-cell east-west pairs within the radius") {
    // at 68.4°N the 471 m hop spans more than one 0.01° cell
    val hop = allPairs.filter { case (a, b) => a % 10 == 0 && b == a + 1 }
    assert(hop.size == lats.size * 2, s"anchor-east1 pairs: $hop")
    assert(!allPairs.exists { case (a, b) => b == a + 1 && a % 10 == 2 },
      "the 505 m hop must stay out of range")
  }

  test("grid join == brute force in both broadcast strategies") {
    // rows whose coordinate is not finite or beyond ±360° ride along on
    // both sides and never match (a saturated cell would overflow the
    // walk's cx ± xr under ANSI)
    val bad = Seq((5.0, Double.PositiveInfinity), (5.0, Double.NegativeInfinity),
      (Double.PositiveInfinity, 40.0), (1e300, 40.0), (-1e300, 40.0),
      (Double.NaN, 40.0), (5.0, Double.NaN), (5.0, 1e300))
      .zipWithIndex.map { case ((x, y), i) => (1000L + i, "bad", x, y) }
      .toDF("id", "kind", "lon", "lat")
    val mixed = pts.unionByName(bad)
    // a partitioned join with the right as build side walks the right
    for (threshold <- Seq(None, Some("1"));
         build <- Seq(GridJoin.BuildLeft, GridJoin.BuildRight)) {
      threshold.foreach(spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      try {
        val got = GridJoin(
          mixed.select(col("id").as("a"), col("lon").as("alon"),
            col("lat").as("alat")),
          mixed.select(col("id").as("b"), col("lon"), col("lat")),
          (col("alon"), col("alat")), (col("lon"), col("lat")), Cell,
          GridJoin.Within(R), build = build)
          .select("a", "b").as[(Long, Long)].collect()
        assert(got.length == got.distinct.length, "a pair joined twice")
        assert(got.toSet.filter(p => p._1 != p._2) == allPairs,
          s"threshold $threshold, $build")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("pairs in the last 0.1% of the radius, where the walk widens") {
    // due west of a cell's west edge, just below the latitudes where
    // the longitude half-width steps from 1 to 2: 63.29° for the
    // 0.01° grid, 75.0° for the rule's radius/28800 cells
    def edgePair(lat: Double, cell: Double, m: Double): DataFrame = {
      val lon = 1000 * cell + 1e-9 // in cell 1000, at its west edge
      val dLon = math.toDegrees(m / (GeoFunctions.EarthRadiusM *
        math.cos(math.toRadians(lat))))
      Seq((1L, lon, lat), (2L, lon - dLon, lat)).toDF("id", "lon", "lat")
    }
    for ((lat, cell) <- Seq((63.29, Cell), (75.0, R / 28800))) {
      val p = edgePair(lat, cell, 499.9)
      assert(bruteForce(p, p).contains((1L, 2L)))
      val got = GridJoin(
        p.select(col("id").as("a"), col("lon").as("alon"),
          col("lat").as("alat")),
        p.select(col("id").as("b"), col("lon"), col("lat")),
        (col("alon"), col("alat")), (col("lon"), col("lat")), cell,
        GridJoin.Within(R)).select("a", "b").as[(Long, Long)].collect()
      assert(got.contains((1L, 2L)), s"missed at $lat")
    }
    GraftExtensions.register(spark)
    val p = edgePair(75.0, R / 28800, 499.9)
    val rule = p.select(col("id").as("a"), col("lon").as("alon"),
        col("lat").as("alat"))
      .join(p.select(col("id").as("b"), col("lon"), col("lat")),
        GeoFunctions.stDWithin(col("alon"), col("alat"), col("lon"),
          col("lat"), lit(R)))
      .select("a", "b").as[(Long, Long)].collect()
    assert(rule.contains((1L, 2L)), "the rule missed it at 75.0°")
  }

  test("walkCells counts the cells the walk reaches") {
    // one right point at the centre of every cell in a ±30-cell window
    // around each left point: the unrefined join meets one per cell
    for (lat <- Seq(40.0, 63.2, 68.4, -78.0, 85.0)) {
      val (cx, cy) = (math.floor(5.004 / Cell), math.floor(lat / Cell))
      val grid = (for (i <- -30 to 30; j <- -30 to 30)
        yield ((cx + i + 0.5) * Cell, (cy + j + 0.5) * Cell))
        .toDF("lon", "lat")
      val left = Seq((5.004, lat)).toDF("alon", "alat")
      val met = GridJoin(left, grid, (col("alon"), col("alat")),
        (col("lon"), col("lat")), Cell, GridJoin.Within(R, refine = false))
        .count()
      val cells = left.select(GridJoin.walkCells(col("alat"), Cell,
        GridJoin.Within(R))).head.getLong(0)
      assert(met == cells, s"at $lat")
      assert((math.abs(lat) <= 63.2) == (cells == 9), s"$cells cells at $lat")
    }
  }

  test("graft_st_dwithin through DistanceJoinRule == brute force") {
    GraftExtensions.register(spark)
    val l = pts.select(col("id").as("a"), col("lon").as("alon"),
      col("lat").as("alat"))
    val r = pts.select(col("id").as("b"), col("lon"), col("lat"))
    val joined = l.join(r, GeoFunctions.stDWithin(col("alon"), col("alat"),
      col("lon"), col("lat"), lit(R)))
    assert(joined.queryExecution.optimizedPlan.toString
      .contains("graft_dwithin_cell"), "the rule did not rewrite the join")
    val got = joined.select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.filter(p => p._1 != p._2) == allPairs)
  }

  test("statistics area assignment == brute force min area") {
    val got = SkiQueries.nearestArea(
      anchors.select(col("id").as("area_id"), col("lon").as("alon"),
        col("lat").as("alat")),
      others.select(col("id").as("way_id"), col("lon"), col("lat")),
      "way_id")
      .select("way_id", "area_id").as[(Long, Long)].collect().toMap
    val want = bruteForce(anchors, others).groupBy(_._2)
      .map { case (b, ps) => b -> ps.map(_._1).min }
    assert(want.size > lats.size * 2, "fixture assigns too few points")
    assert(got == want)
  }

  /** Connected components of `nodes` under `edges`: node → min id. */
  private def components(nodes: Set[Long],
      edges: Set[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val label = mutable.Map[Long, Long]()
    for (n <- nodes.toSeq.sorted if !label.contains(n)) {
      val todo = mutable.Stack(n)
      while (todo.nonEmpty) {
        val x = todo.pop()
        if (!label.contains(x)) {
          label(x) = n
          adj.getOrElse(x, Nil).foreach(todo.push)
        }
      }
    }
    label.toMap
  }

  test("transitiveAssign == brute-force closure") {
    val objs = others.select(col("id").as("okey"),
      array(lit("downhill")).as("uses"), col("lon"), col("lat"))
    val areas = anchors.select(col("id").as("area_id"),
      lit("downhill").as("act"), col("lon"), col("lat"))
    val got = Clustering.transitiveAssign(areas, objs, R, Cell)
      .select("okey", "area_id").as[(Long, Long)].collect().toMap
    // a closure from each anchor over the object graph; min area wins
    val anchorIds = points.filter(_._2 == "anchor").map(_._1).toSet
    val objIds = points.map(_._1).toSet -- anchorIds
    val objEdges = allPairs.filter(p => objIds(p._1) && objIds(p._2))
    val comp = components(objIds, objEdges)
    val seeds = bruteForce(anchors, others)
    val want = objIds.toSeq.flatMap { o =>
      val reaching = seeds.filter(s => comp(s._2) == comp(o)).map(_._1)
      if (reaching.isEmpty) None else Some(o -> reaching.min)
    }.toMap
    assert(want.values.toSet.size == lats.size * 2,
      "every anchor must reach its chain")
    assert(got == want)
  }

  test("generateSkiAreas == brute-force components") {
    // east1 points are lifts; every other point is a downhill run
    val nodes = pts.select(col("id").as("oid"), lit("downhill").as("act"),
      col("lon"), col("lat"), (col("kind") === "east1").as("is_lift"))
    val got = Clustering.generateSkiAreas(nodes, R, Cell)
      .select("oid", "area_id").as[(Long, Long)].collect().toSet
    val ids = points.map(_._1).toSet
    val lifts = points.filter(_._2 == "east1").map(_._1).toSet
    val comp = components(ids, allPairs)
    val kept = comp.groupBy(_._2).filter { case (_, ms) =>
      ms.keys.exists(lifts) && ms.keys.exists(m => !lifts(m))
    }.keySet
    val want = comp.collect { case (o, l) if kept(l) => (o, l) }.toSet
    assert(kept.size == lats.size * 2, s"components kept: $kept")
    assert(got == want)
  }

  test("the grid join is the only cell-neighbourhood walk in src/main") {
    val sources = MainSources.files
    assert(sources.exists(_.getName == "GridJoin.scala"),
      s"no GridJoin.scala under ${MainSources.root}")
    // a symmetric cell walk: sequence(lit(-n), lit(n)) exploded over a
    // cell id, the shape every hand-written grid join used
    val walk = """sequence\(\s*lit\(\s*-""".r
    val offenders = for {
      (path, n, line) <- MainSources.lines(
        sources.filter(_.getName != "GridJoin.scala"))
      if walk.findFirstIn(line).nonEmpty
    } yield s"$path:$n: ${line.trim}"
    assert(offenders.isEmpty,
      "cell walks outside GridJoin; call GridJoin instead:\n" +
        offenders.mkString("\n"))
  }
}
