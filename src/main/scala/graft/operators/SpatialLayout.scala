package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.GeoFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) spatial data layout — the data-organization side
  * of the 100 TB story. The engine's spatial joins are grid joins
  * (SURVEY §4.2); what makes them cheap at warehouse scale is the
  * LAYOUT of the stored features: sorting a table by the Morton code
  * of its grid cell before writing parquet clusters spatially-near
  * features into the same files and row groups, so
  *  - a bbox predicate maps to a handful of z-ranges and parquet
  *    min/max row-group stats prune everything else without reading
  *    it (the same mechanism Delta/Iceberg `OPTIMIZE ZORDER BY` uses);
  *  - the grid join's cell-key shuffle moves near-sorted runs, which
  *    compress better in flight.
  *
  * The Morton code interleaves the bits of the two 16-bit cell
  * indices with the classic shift-mask spread cascade — five bitwise
  * ops per axis, all `org.apache.spark.sql.functions` (shiftleft /
  * bitwiseOR / bitwiseAND on longs), fully inside whole-stage
  * codegen, and bit-for-bit reproducible in any engine with 64-bit
  * integer ops (the DuckDB oracle replays the identical cascade).
  *
  * Interleaving is order-preserving per axis (the spread only moves
  * bits to fixed higher positions), so `z = spread(x) | spread(y)<<1`
  * is monotone in each coordinate — a z-range is a union of cell
  * rectangles, never a re-shuffle of them.
  */
object SpatialLayout {

  /** Spread the low 16 bits of `c` so bit i lands at position 2i. */
  def spread16(c: Column): Column = {
    def step(x: Column, sh: Int, mask: Long): Column =
      x.bitwiseOR(shiftleft(x, sh)).bitwiseAND(lit(mask))
    var x = c.cast("long")
    x = step(x, 8, 0x00FF00FFL)
    x = step(x, 4, 0x0F0F0F0FL)
    x = step(x, 2, 0x33333333L)
    x = step(x, 1, 0x55555555L)
    x
  }

  /** Morton code of two 16-bit cell indices (x fills even bits, y odd
    * bits). Monotone in each argument; range [0, 2^32).
    */
  def mortonZ(cellX: Column, cellY: Column): Column =
    spread16(cellX).bitwiseOR(shiftleft(spread16(cellY), 1))

  /** DuckDB fragment computing the identical spread cascade. The
    * expression text doubles per step (the input is referenced twice),
    * so keep `e` short — a column name or a small arithmetic term.
    */
  def sqlSpread16(e: String): String = {
    var x = s"CAST(($e) AS BIGINT)"
    for ((sh, mask) <- Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL),
        (2, 0x33333333L), (1, 0x55555555L)))
      x = s"((($x) | (($x) << $sh)) & $mask)"
    x
  }

  def sqlMortonZ(cellX: String, cellY: String): String =
    s"(${sqlSpread16(cellX)} | (${sqlSpread16(cellY)} << 1))"

  /** Cluster `df` for writing: range-partition into `numFiles` splits
    * by z and sort within each, so every output file covers one
    * compact z-range (= a compact set of grid cells) and parquet
    * min/max stats prune on any z-range or cell predicate. This is
    * the write-side prep; `df.write.parquet(...)` after it emits one
    * file per partition.
    */
  def zOrderLayout(df: DataFrame, z: Column, numFiles: Int): DataFrame =
    df.repartitionByRange(numFiles, z).sortWithinPartitions(z)

  /** Driver-side scalar Morton code (same interleave as [[mortonZ]]). */
  def mortonScalar(x: Int, y: Int): Long = {
    def spread(v: Int): Long = {
      var x = v.toLong & 0xFFFFL
      x = (x | (x << 8)) & 0x00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0FL
      x = (x | (x << 2)) & 0x33333333L
      x = (x | (x << 1)) & 0x55555555L
      x
    }
    spread(x) | (spread(y) << 1)
  }

  /** The read-side complement of [[zOrderLayout]]: cover the cell
    * rectangle [x0..x1]×[y0..y1] with at most `maxRanges` contiguous
    * z-ranges. Quadtree decomposition: every Morton-aligned 2^k
    * square whose cells all fall inside the bbox contributes one
    * contiguous z block (aligned squares share a code prefix);
    * partially-covered squares recurse. The exact cover can be a few
    * hundred ranges for a skinny bbox, so adjacent ranges merge
    * smallest-gap-first down to the budget — merging only ADDS z
    * values (false positives for the residual bbox refine), never
    * drops any, so pruning stays sound.
    *
    * At scale this is the planner for any z-laid-out table: the
    * ranges become `z BETWEEN lo AND hi` disjuncts that parquet
    * row-group stats prune on, and the exact cell predicate refines
    * the survivors.
    */
  def zRangesForBbox(x0: Int, x1: Int, y0: Int, y1: Int,
      maxRanges: Int = 32): Seq[(Long, Long)] =
    coverBbox(x0, x1, y0, y1, maxRanges) { (xb, yb, size) =>
      (mortonScalar(xb, yb),
        mortonScalar(xb + size - 1, yb + size - 1))
    }

  /** Shared quadtree bbox cover: recurse into partially-covered
    * squares, emit `blockOf(origin, size)` for fully-contained ones,
    * coalesce exactly-adjacent ranges for free, then merge the
    * smallest gaps down to the budget (merging only ADDS code values,
    * so pruning built on the result stays sound). Both curve planners
    * ([[zRangesForBbox]], [[hilbertRangesForBbox]]) differ only in
    * how a contained square maps to its contiguous code block.
    */
  private def coverBbox(x0: Int, x1: Int, y0: Int, y1: Int,
      maxRanges: Int)(blockOf: (Int, Int, Int) => (Long, Long))
      : Seq[(Long, Long)] = {
    require(x0 <= x1 && y0 <= y1 && x0 >= 0 && y0 >= 0
      && x1 < 65536 && y1 < 65536, s"bad bbox ($x0..$x1, $y0..$y1)")
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def rec(xb: Int, yb: Int, size: Int): Unit = {
      if (xb > x1 || xb + size - 1 < x0 || yb > y1 || yb + size - 1 < y0)
        return // disjoint
      if (xb >= x0 && xb + size - 1 <= x1 && yb >= y0 && yb + size - 1 <= y1) {
        out += blockOf(xb, yb, size)
        return
      }
      val h = size / 2
      rec(xb, yb, h); rec(xb + h, yb, h)
      rec(xb, yb + h, h); rec(xb + h, yb + h, h)
    }
    rec(0, 0, 65536)
    var ranges = out.sortBy(_._1).toVector
    ranges = ranges.foldLeft(Vector.empty[(Long, Long)]) {
      case (acc :+ ((lo, hi)), (lo2, hi2)) if lo2 == hi + 1 =>
        acc :+ ((lo, hi2))
      case (acc, r) => acc :+ r
    }
    while (ranges.size > maxRanges) {
      val i = ranges.indices.init
        .minBy(j => ranges(j + 1)._1 - ranges(j)._2)
      ranges = (ranges.take(i) :+
        ((ranges(i)._1, ranges(i + 1)._2))) ++ ranges.drop(i + 2)
    }
    ranges
  }

  /** `z`-range disjunction for a bbox — the pushable pruning
    * predicate. Combine with the exact cell bounds as the refine:
    * {{{
    *   df.filter(zRangePredicate(col("z"), ranges)
    *       && col("cx").between(x0, x1) && col("cy").between(y0, y1))
    * }}}
    */
  def zRangePredicate(z: Column, ranges: Seq[(Long, Long)]): Column =
    ranges.map { case (lo, hi) => z.between(lo, hi) }
      .reduceLeft(_ || _)

  // ---- oracle query -----------------------------------------------------
  // Deterministic point set from `customer` (hash-derived 0.01-degree
  // grid cells; integers end-to-end so the compare is exact), z-coded
  // and split into fixed-width z-ranges (zval >> 26, up to 64
  // buckets) — the file boundaries zOrderLayout produces, minus the
  // range partitioner's data-dependent sampling. Per range: row
  // count, z span, and the cell bounding box — the numbers a table
  // maintenance job reports after an OPTIMIZE-ZORDER pass ("are my
  // files spatially compact?"). The oracle replays the identical
  // interleave in DuckDB, so spans and bboxes must agree
  // bit-for-bit. Shape at scale: one scan, map-side z computation,
  // one hash-agg on the bucket key — no global sort and no window;
  // everything reduces with map-side partials.
  private val qSpatialZorder = QuerySpec.of(
    "q_spatial_zorder", {
      val hx = graft.functions.HashFunctions.sqlHash32("c_custkey")
      val hy = graft.functions.HashFunctions
        .sqlHash32("'lat:' || CAST(c_custkey AS VARCHAR)")
      s"""WITH pts AS (
        |  SELECT c_custkey AS id,
        |    ($hx) % 36000 AS cell_x, ($hy) % 18000 AS cell_y
        |  FROM customer),
        |z AS (
        |  SELECT id, cell_x, cell_y,
        |    ${sqlMortonZ("cell_x", "cell_y")} AS zval
        |  FROM pts)
        |SELECT (zval >> 26) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_pts,
        |  min(zval) AS z_min, max(zval) AS z_max,
        |  min(cell_x) AS x_min, max(cell_x) AS x_max,
        |  min(cell_y) AS y_min, max(cell_y) AS y_max
        |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin
    }) { (s, d) =>
    import graft.functions.HashFunctions
    val pts = Tables.customer(s, d)
      .select(col("c_custkey").as("id"),
        pmod(HashFunctions.hash32(col("c_custkey")), lit(36000))
          .as("cell_x"),
        pmod(HashFunctions.hash32(
          concat(lit("lat:"), col("c_custkey").cast("string"))), lit(18000))
          .as("cell_y"))
    pts.withColumn("zval", mortonZ(col("cell_x"), col("cell_y")))
      .groupBy(shiftright(col("zval"), 26).as("bucket"))
      .agg(count(lit(1)).as("n_pts"),
        min("zval").as("z_min"), max("zval").as("z_max"),
        min("cell_x").as("x_min"), max("cell_x").as("x_max"),
        min("cell_y").as("y_min"), max("cell_y").as("y_max"))
      .orderBy("bucket")
  }

  /** Hilbert-side complement of [[zRangesForBbox]]: cover the cell
    * rectangle with at most `maxRanges` contiguous HILBERT-distance
    * ranges. Same quadtree decomposition; the curve-specific insight
    * making it just as simple as the Morton case is that every
    * Morton-aligned 2^k square is visited CONTIGUOUSLY by the Hilbert
    * curve and occupies an ALIGNED d-block of length 4^k — so a fully
    * contained square contributes `[d & ~(4^k - 1), +4^k)` for the d
    * of any of its cells, no curve-orientation bookkeeping needed.
    * Partially-covered squares recurse; adjacent ranges merge
    * smallest-gap-first down to the budget (merging only ADDS d
    * values, so pruning stays sound with the exact cell refine).
    *
    * With this, Hilbert serves BOTH roles — write layout (better
    * locality, see `q_spatial_hilbert`) and bbox-range read planning —
    * and typically with FEWER residual ranges than Morton for the
    * same budget, because neighboring squares are curve-adjacent more
    * often and coalesce for free.
    */
  def hilbertRangesForBbox(x0: Int, x1: Int, y0: Int, y1: Int,
      maxRanges: Int = 32): Seq[(Long, Long)] =
    coverBbox(x0, x1, y0, y1, maxRanges) { (xb, yb, size) =>
      val block = size.toLong * size
      val d = graft.functions.HilbertExpr.xy2d(xb.toLong, yb.toLong)
      val lo = (d / block) * block
      (lo, lo + block - 1)
    }

  /** DuckDB replay of [[graft.functions.HilbertExpr.xy2d]]: 16
    * unrolled bit-level steps over a state CTE (id, cell_x, cell_y,
    * x, y, d). MATERIALIZED per step — the chain references each
    * state column several times, and un-materialized single-use CTEs
    * inline exponentially (the round-13 tile-oracle lesson). The
    * `& (s-1)` mask normalizes the post-reflection negatives exactly
    * like the JVM kernel (two's-complement bitwise AND both engines).
    */
  def sqlHilbertSteps(src: String): String = {
    val sb = new StringBuilder
    sb.append(s"h${graft.functions.HilbertExpr.Side} AS MATERIALIZED (" +
      s"SELECT id, cell_x, cell_y, " +
      s"CAST(cell_x AS BIGINT) AS x, CAST(cell_y AS BIGINT) AS y, " +
      s"CAST(0 AS BIGINT) AS d FROM $src)")
    var s = graft.functions.HilbertExpr.Side / 2
    while (s > 0) {
      val prev = s * 2
      val digit = "CASE WHEN rx = 0 AND ry = 0 THEN 0 " +
        "WHEN rx = 0 THEN 1 WHEN ry = 1 THEN 2 ELSE 3 END"
      sb.append(s""",
        |h$s AS MATERIALIZED (
        |  SELECT id, cell_x, cell_y,
        |    (CASE WHEN ry = 0 THEN
        |       (CASE WHEN rx = 1 THEN $s - 1 - y ELSE y END)
        |     ELSE x END) & ${s - 1} AS x,
        |    (CASE WHEN ry = 0 THEN
        |       (CASE WHEN rx = 1 THEN $s - 1 - x ELSE x END)
        |     ELSE y END) & ${s - 1} AS y,
        |    d + CAST($s AS BIGINT) * $s * ($digit) AS d
        |  FROM (SELECT *,
        |      CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
        |      CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
        |    FROM h$prev))""".stripMargin)
      s /= 2
    }
    sb.toString
  }

  // ---- Hilbert layout locality audit --------------------------------
  // WHY a second curve: Morton-aligned buckets are compact squares,
  // but the curve itself JUMPS (bit carries teleport across half the
  // plane), so morton-consecutive rows are often far apart — bad for
  // run compression and moving-window reads. Hilbert-consecutive
  // cells are ALWAYS grid-adjacent. This query measures exactly that,
  // on the same deterministic point set as q_spatial_zorder: order
  // the points along each curve and sum the Manhattan jumps between
  // consecutive points. The Hilbert row's totals land well below
  // Morton's (HilbertSpec asserts it) — the number that justifies
  // `hilbert_d` as the write-layout sort key; bbox READ planning
  // works on the same key via hilbertRangesForBbox (aligned squares
  // occupy aligned d-blocks on this curve too). All-integer output.
  private val qSpatialHilbert = QuerySpec.of(
    "q_spatial_hilbert", {
      val hx = graft.functions.HashFunctions.sqlHash32("c_custkey")
      val hy = graft.functions.HashFunctions
        .sqlHash32("'lat:' || CAST(c_custkey AS VARCHAR)")
      s"""WITH pts AS (
        |  SELECT c_custkey AS id,
        |    ($hx) % 36000 AS cell_x, ($hy) % 18000 AS cell_y
        |  FROM customer),
        |${sqlHilbertSteps("pts")},
        |codes AS (
        |  SELECT p.id, p.cell_x, p.cell_y,
        |    h1.d AS hval, ${sqlMortonZ("p.cell_x", "p.cell_y")} AS zval
        |  FROM pts p JOIN h1 ON p.id = h1.id),
        |u AS (
        |  SELECT 'hilbert' AS curve, id, cell_x, cell_y, hval AS code
        |  FROM codes
        |  UNION ALL
        |  SELECT 'morton' AS curve, id, cell_x, cell_y, zval AS code
        |  FROM codes),
        |w AS (
        |  SELECT curve,
        |    abs(cell_x - lag(cell_x) OVER
        |      (PARTITION BY curve ORDER BY code, id)) +
        |    abs(cell_y - lag(cell_y) OVER
        |      (PARTITION BY curve ORDER BY code, id)) AS jump
        |  FROM u)
        |SELECT curve, count(*) AS n_pts,
        |  CAST(sum(COALESCE(jump, 0)) AS BIGINT) AS total_jump,
        |  CAST(max(COALESCE(jump, 0)) AS BIGINT) AS max_jump,
        |  CAST(sum(COALESCE(jump, 0)) * 1000 // (count(*) - 1) AS BIGINT)
        |    AS mean_jump_x1000
        |FROM w GROUP BY curve
        |ORDER BY curve""".stripMargin
    }) { (s, d) =>
    import graft.functions.HashFunctions
    val pts = Tables.customer(s, d)
      .select(col("c_custkey").as("id"),
        pmod(HashFunctions.hash32(col("c_custkey")), lit(36000))
          .cast("long").as("cell_x"),
        pmod(HashFunctions.hash32(
          concat(lit("lat:"), col("c_custkey").cast("string"))), lit(18000))
          .cast("long").as("cell_y"))
    val codes = pts
      .withColumn("hval",
        graft.functions.HilbertExpr.hilbertD(col("cell_x"), col("cell_y")))
      .withColumn("zval", mortonZ(col("cell_x"), col("cell_y")))
    val u = codes.select(lit("hilbert").as("curve"), col("id"),
        col("cell_x"), col("cell_y"), col("hval").as("code"))
      .unionByName(codes.select(lit("morton").as("curve"), col("id"),
        col("cell_x"), col("cell_y"), col("zval").as("code")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("curve").orderBy(col("code"), col("id"))
    u.withColumn("jump",
        abs(col("cell_x") - lag("cell_x", 1).over(w)) +
          abs(col("cell_y") - lag("cell_y", 1).over(w)))
      .groupBy("curve")
      .agg(count(lit(1)).as("n_pts"),
        sum(coalesce(col("jump"), lit(0L))).as("total_jump"),
        max(coalesce(col("jump"), lit(0L))).as("max_jump"),
        expr("sum(COALESCE(jump, 0)) * 1000 DIV (count(*) - 1)")
          .as("mean_jump_x1000"))
      .orderBy("curve")
  }

  // Declarative distance join, exercised end-to-end through the PURE
  // SQL surface: the query text states `JOIN ... ON graft_st_dwithin`
  // and nothing else — no grid cells, no explode. The registered
  // DistanceJoinRule plans the grid-cell equi-join (the spec asserts
  // no cartesian product); the DuckDB oracle replays the same join as
  // an explicit haversine-filtered cross join, which is affordable at
  // oracle scale and independent of the rewrite under test. Points
  // derive from customer/supplier keys by integer arithmetic into a
  // ~1.5 deg Alpine box; output is integer pair ids only.
  private def dwPoints(table: String, key: String, mLon: Long, mLat: Long) =
    s"""SELECT $key AS id,
      |  CAST(($key * $mLon) % 15000 AS DOUBLE) / 10000.0 + 6.0 AS lon,
      |  CAST(($key * $mLat) % 15000 AS DOUBLE) / 10000.0 + 45.0 AS lat
      |FROM $table""".stripMargin

  private val DwRadiusM = 8000.0

  private val qSpatialDwithinSql = QuerySpec.of(
    "q_spatial_dwithin_sql",
    s"""WITH c AS (${dwPoints("customer", "c_custkey", 7919L, 104729L)}),
      |s AS (${dwPoints("supplier", "s_suppkey", 48271L, 69621L)})
      |SELECT c.id AS cid, s.id AS sid
      |FROM c JOIN s ON ${GeoFunctions.sqlHaversineM(
        "c.lon", "c.lat", "s.lon", "s.lat")} <= $DwRadiusM
      |ORDER BY cid, sid""".stripMargin) { (sp, d) =>
    graft.GraftExtensions.register(sp)
    Tables.customer(sp, d).createOrReplaceTempView("graft_dw_customer")
    Tables.supplier(sp, d).createOrReplaceTempView("graft_dw_supplier")
    sp.sql(
      s"""WITH c AS (${dwPoints("graft_dw_customer", "c_custkey",
          7919L, 104729L)}),
        |s AS (${dwPoints("graft_dw_supplier", "s_suppkey",
          48271L, 69621L)})
        |SELECT c.id AS cid, s.id AS sid
        |FROM c JOIN s ON graft_st_dwithin(c.lon, c.lat, s.lon, s.lat,
        |  $DwRadiusM)
        |ORDER BY cid, sid""".stripMargin)
  }

  def specs: Seq[QuerySpec] =
    Seq(qSpatialZorder, qSpatialDwithinSql, qSpatialHilbert)
}
