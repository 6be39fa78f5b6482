package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Per-tile geometry preparation for the in-engine MVT path — the
  * deterministic analog of tippecanoe's per-zoom geometry handling
  * (`/root/reference/src/transforms/TilesGenerator.ts:15-97`:
  * `--simplify-only-low-zooms` plus clipping to the buffered tile
  * square, `-B 0` for ski areas, `-B 10` for spots, default 5 for
  * lifts/runs):
  *
  *  1. simplification (optional, low zooms): Douglas-Peucker over the
  *     quantized integer points with the perpendicular-to-line metric,
  *     endpoints anchored, integer-exact squared comparisons
  *     (`cross² > tol²·len2`), first-index tie-break. A polygon ring
  *     whose DP survivor set is under 3 vertices degenerates to its
  *     bbox placeholder square (min 1 px wide) — the deterministic
  *     stand-in for tippecanoe's tiny-polygon square.
  *  2. clipping to `[-B, 4096+B]²`: points are filtered; lines are
  *     Liang-Barsky-clipped per segment and contiguous survivors merge
  *     into parts (contiguity = exit t = 1 and next entry t = 0, i.e.
  *     the shared original vertex survived unclipped); rings are
  *     Sutherland-Hodgman-clipped against the four half-planes in
  *     fixed order (x≥-B, x≤4096+B, y≥-B, y≤4096+B), carried in
  *     doubles, rounded at the end, consecutive duplicates and the
  *     closing duplicate removed, dropped when fewer than 3 vertices
  *     survive.
  *
  * Every arithmetic step is mirrored operation-for-operation in the
  * DuckDB oracle CTEs (MvtTiles), so results are hash-exact across
  * engines: integer math for DP, IEEE doubles with identical formula
  * order for clip intersections, `floor(v + 0.5)` rounding.
  *
  * Performance shape (the 2.7M-row post-explosion hot path):
  *
  *  - FUSED OUTPUT: one kernel call emits the feature's FINAL packed
  *    geometry command bytes (the MVT `Feature.geometry` varint body,
  *    cursor per feature) plus its stats
  *    (`struct<geom binary, n_parts, n_points, chk>`), so the points
  *    are walked once pre-shuffle and never materialized as nested
  *    Catalyst arrays — the (z,tx,ty) exchange ships ~2-6 bytes/point
  *    of varints instead of ~40 bytes/point of UnsafeRow array cells,
  *    the stats rollup is a plain columnar sum, and the tile encoder
  *    splices bytes instead of re-walking geometry.
  *  - GENERATOR-SHAPED OUTPUT: the expression returns a 0-or-1-element
  *    `array<struct>` consumed by `explode` rather than a bare struct
  *    consumed by a `.filter(n_parts > 0)`. A filter on a struct field
  *    of a projected alias gets pushed back through the Project and
  *    inlines the whole kernel a second time beside it (Catalyst CSE
  *    is per-operator, so Filter + Project each walked the geometry —
  *    the round-14 plan showed `mvtprepexpr` twice per stage). A
  *    `Generate` evaluates its generator exactly once per input row
  *    and an empty array IS the row drop, so the dropped-from-this-
  *    tile case needs no predicate anywhere downstream.
  *  - INTERIOR FAST PATH: a feature whose (post-simplify) bbox lies
  *    inside the buffered tile square — the overwhelming majority at
  *    z12+ where tiny features sit in big tiles — skips the clippers
  *    entirely; clipping a fully-interior geometry is the identity on
  *    integer inputs (Liang-Barsky yields t0=0, t1=1 and
  *    `round(x + 0·dx) = x`; all four Sutherland-Hodgman passes with
  *    every vertex inside copy the ring unchanged), with the one
  *    non-identity corner — a degenerate duplicate-vertex segment
  *    splits line parts — replicated in integer math.
  *
  * Runs once per post-cap feature-tile row with a static-kernel
  * codegen passthrough, so it stays inside whole-stage codegen.
  *
  * Not a StaticInvoke: PlanPinSpec pins it by class.
  */
case class MvtPrepExpr(gtype: Expression, wpts: Expression,
    simplify: Expression, tile: Expression, tol: Long)
    extends QuaternaryExpression {

  override def first: Expression = gtype
  override def second: Expression = wpts
  override def third: Expression = simplify
  override def fourth: Expression = tile
  override def nullable: Boolean = true
  override def dataType: DataType =
    ArrayType(MvtPrepKernel.outType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (gtype.dataType, wpts.dataType, simplify.dataType,
        tile.dataType) match {
      case (IntegerType, ArrayType(_: StructType, _), BooleanType,
          StructType(Array(
            StructField(_, IntegerType, _, _),
            StructField(_, IntegerType, _, _),
            StructField(_, LongType, _, _),
            StructField(_, LongType, _, _)))) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_mvt_prep expects (int, array<struct>, boolean," +
            s" struct<buf int, shift int, tx long, ty long>), got $other")
    }

  override protected def nullSafeEval(g: Any, p: Any, s: Any,
      t: Any): Any =
    MvtPrepKernel.prepEncodedArr(g.asInstanceOf[Int],
      p.asInstanceOf[ArrayData], s.asInstanceOf[Boolean], tol,
      t.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (g, p, s, t) =>
      s"${ev.value} = graft.functions.MvtPrepKernel.prepEncodedArr(" +
        s"$g, $p, $s, ${tol}L, $t);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): MvtPrepExpr =
    copy(gtype = newFirst, wpts = newSecond, simplify = newThird,
      tile = newFourth)
}

object MvtPrepExpr {
  /** `wpts` are MaxZoom world pixels; quantization to tile-local
    * coordinates (shiftright + tile-origin subtraction) is fused into
    * the kernel walk — passing world pixels straight through avoids an
    * interpreted higher-order `transform` materializing a second
    * array per post-explosion row on the hot path. `tile` packs the
    * per-row scalars (buf, shift = MaxZoom - z, tx, ty) as one
    * codegen'd struct so the expression stays 4-ary.
    */
  def mvtPrep(gtype: Column, wpts: Column, simplify: Column,
      tile: Column, tol: Long): Column =
    GraftExpressionBridge.column(MvtPrepExpr(
      GraftExpressionBridge.expression(gtype),
      GraftExpressionBridge.expression(wpts),
      GraftExpressionBridge.expression(simplify),
      GraftExpressionBridge.expression(tile), tol))
}

object MvtPrepKernel {

  val Extent = 4096L

  val outType: DataType = StructType(Seq(
    StructField("geom", BinaryType, nullable = false),
    StructField("n_parts", LongType, nullable = false),
    StructField("n_points", LongType, nullable = false),
    StructField("chk", LongType, nullable = false)))

  /** Largest |coordinate| for which the DP metric is exact in Long:
    * `cross² ≤ (8·C²)² = 64·C⁴` must stay under 2^63, so C ≤ 2^14.
    * A tile-local coordinate can exceed this only when a single
    * feature spans ≳4 tiles at its assigned zoom (a continent-length
    * line at z15). [[prep]] handles the case by FALLING BACK to the
    * unsimplified path for that feature (see [[dpInBounds]]) — the
    * oracle's dp0 CTE carries the identical gate, so both engines
    * skip DP for the same features instead of one wrapping a Long
    * while the other errors. dpKeep itself still `require`s the
    * bound loudly as a defensive invariant for direct callers.
    */
  val DpCoordMax = 1L << 14

  /** True when every coordinate is within the DP exactness bound —
    * the per-feature gate for the simplify fast path. A valid wide
    * geometry (spanning ≳4 tiles at its zoom) ships unsimplified
    * rather than failing the job; the reference never hits the case
    * because it clips before simplifying, and for the engine's
    * simplify-only-low-zoom policy the fallback costs nothing but
    * bytes on a rare feature.
    */
  def dpInBounds(xs: Array[Long], ys: Array[Long]): Boolean = {
    var i = 0
    while (i < xs.length) {
      if (math.abs(xs(i)) > DpCoordMax ||
        math.abs(ys(i)) > DpCoordMax) return false
      i += 1
    }
    true
  }

  /** Douglas-Peucker keep flags: endpoints anchored, perpendicular-to-
    * line metric, integer-exact (`cross² > tol²·len2`; point distance
    * when the bracket anchors coincide), argmax split with smallest-
    * index tie-break. Equals the monotone closure the oracle unrolls.
    */
  def dpKeep(xs: Array[Long], ys: Array[Long], tol: Long): Array[Boolean] = {
    val n = xs.length
    // exactness guard: see DpCoordMax (and tol² · 8C² for the
    // tolerance side) — overflow must fail loudly, not wrap
    require(tol <= Extent, s"DP tolerance $tol exceeds extent")
    var g = 0
    while (g < n) {
      require(math.abs(xs(g)) <= DpCoordMax && math.abs(ys(g)) <= DpCoordMax,
        s"tile-local coordinate (${xs(g)}, ${ys(g)}) exceeds ±$DpCoordMax; " +
          "the squared DP cross product would overflow Long — split the " +
          "feature before the tile fan-out")
      g += 1
    }
    val keep = new Array[Boolean](n)
    keep(0) = true
    keep(n - 1) = true
    def recurse(a: Int, b: Int): Unit = {
      if (b - a < 2) return
      val dx = xs(b) - xs(a)
      val dy = ys(b) - ys(a)
      val len2 = dx * dx + dy * dy
      var best = -1
      var bestM = -1L
      var k = a + 1
      while (k < b) {
        val m =
          if (len2 == 0L) {
            val ex = xs(k) - xs(a); val ey = ys(k) - ys(a)
            ex * ex + ey * ey
          } else {
            val cross = dx * (ys(k) - ys(a)) - dy * (xs(k) - xs(a))
            cross * cross
          }
        if (m > bestM) { bestM = m; best = k }
        k += 1
      }
      val over =
        if (len2 == 0L) bestM > tol * tol
        else bestM > tol * tol * len2
      if (over) { keep(best) = true; recurse(a, best); recurse(best, b) }
    }
    recurse(0, n - 1)
    keep
  }

  private def round(v: Double): Long = math.floor(v + 0.5).toLong

  /** True when every vertex lies inside the buffered square — the
    * precondition for both interior fast paths (bounds inclusive:
    * boundary points are "inside" to the clippers too).
    */
  private def inBounds(xs: Array[Long], ys: Array[Long],
      lo: Double, hi: Double): Boolean = {
    var i = 0
    while (i < xs.length) {
      if (xs(i) < lo || xs(i) > hi || ys(i) < lo || ys(i) > hi) return false
      i += 1
    }
    true
  }

  /** Liang-Barsky clip of one segment to [lo,hi]² → (t0, t1) or None.
    * Formula order matches the oracle SQL exactly (greatest/least over
    * per-axis entry/exit parameters, degenerate axes reject when the
    * fixed coordinate lies outside).
    */
  private def clipSeg(x1: Long, y1: Long, x2: Long, y2: Long,
      lo: Double, hi: Double): Option[(Double, Double)] = {
    val dx = (x2 - x1).toDouble
    val dy = (y2 - y1).toDouble
    if (dx == 0.0 && (x1 < lo || x1 > hi)) return None
    if (dy == 0.0 && (y1 < lo || y1 > hi)) return None
    val txE = if (dx > 0) (lo - x1) / dx else if (dx < 0) (hi - x1) / dx
      else 0.0
    val txX = if (dx > 0) (hi - x1) / dx else if (dx < 0) (lo - x1) / dx
      else 1.0
    val tyE = if (dy > 0) (lo - y1) / dy else if (dy < 0) (hi - y1) / dy
      else 0.0
    val tyX = if (dy > 0) (hi - y1) / dy else if (dy < 0) (lo - y1) / dy
      else 1.0
    val t0 = math.max(0.0, math.max(txE, tyE))
    val t1 = math.min(1.0, math.min(txX, tyX))
    if (t0 <= t1) Some((t0, t1)) else None
  }

  /** Sutherland-Hodgman pass against one half-plane. `axisX` selects
    * the coordinate; keep side is `>= bound` when `keepGe` else
    * `<= bound`. Intersections stay doubles.
    */
  private def shPass(ring: Array[(Double, Double)], axisX: Boolean,
      keepGe: Boolean, bound: Double): Array[(Double, Double)] = {
    if (ring.isEmpty) return ring
    val out = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    val n = ring.length
    def coord(p: (Double, Double)): Double = if (axisX) p._1 else p._2
    def inside(p: (Double, Double)): Boolean =
      if (keepGe) coord(p) >= bound else coord(p) <= bound
    def inter(p: (Double, Double), c: (Double, Double)): (Double, Double) = {
      val t = (bound - coord(p)) / (coord(c) - coord(p))
      if (axisX) (bound, p._2 + t * (c._2 - p._2))
      else (p._1 + t * (c._1 - p._1), bound)
    }
    var i = 0
    while (i < n) {
      val prev = ring(if (i == 0) n - 1 else i - 1)
      val cur = ring(i)
      (inside(prev), inside(cur)) match {
        case (true, true) => out += cur
        case (true, false) => out += inter(prev, cur)
        case (false, true) => out += inter(prev, cur); out += cur
        case (false, false) =>
      }
      i += 1
    }
    out.toArray
  }

  /** Full prep: optional DP simplify (with polygon bbox-placeholder
    * fallback), then clip to [-buffer, 4096+buffer]². See class doc.
    * `allowFast = false` forces the general clip path even for
    * interior geometry — test-only, so MvtPrepProps can prove the
    * fast path IS the identity the comments claim, on arbitrary
    * inputs rather than by argument.
    */
  def prep(gtype: Int, xs0: Array[Long], ys0: Array[Long],
      simplify: Boolean, tol: Long, buffer: Int,
      allowFast: Boolean = true)
      : Array[Array[(Long, Long)]] = {
    val lo = -buffer.toDouble
    val hi = Extent.toDouble + buffer
    gtype match {
      case 1 =>
        val x = xs0(0); val y = ys0(0)
        if (x >= lo && x <= hi && y >= lo && y <= hi)
          Array(Array((x, y)))
        else Array.empty
      case 2 =>
        require(xs0.length >= 2, s"line needs >= 2 points")
        var xs = xs0; var ys = ys0
        if (simplify && xs.length > 2 && dpInBounds(xs, ys)) {
          val keep = dpKeep(xs, ys, tol)
          val idx = keep.indices.filter(keep).toArray
          xs = idx.map(xs0); ys = idx.map(ys0)
        }
        // interior fast path: every vertex inside the buffered square
        // means every segment clips to (t0=0, t1=1) and rounds back to
        // its own integer endpoints — identical output to the double
        // path below, minus the doubles. The one non-identity case,
        // a duplicate-vertex degenerate segment, drops and breaks
        // part contiguity exactly as the clip loop would.
        if (allowFast && inBounds(xs, ys, lo, hi)) {
          val parts = scala.collection.mutable.ArrayBuffer[Array[(Long, Long)]]()
          val cur = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          var i = 0
          while (i < xs.length - 1) {
            if (xs(i) == xs(i + 1) && ys(i) == ys(i + 1)) {
              if (cur.nonEmpty) { parts += cur.toArray; cur.clear() }
            } else {
              if (cur.isEmpty) cur += ((xs(i), ys(i)))
              cur += ((xs(i + 1), ys(i + 1)))
            }
            i += 1
          }
          if (cur.nonEmpty) parts += cur.toArray
          return parts.toArray
        }
        // clip per segment; merge contiguous survivors into parts
        val parts = scala.collection.mutable.ArrayBuffer[Array[(Long, Long)]]()
        val cur = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        var prevUnclippedExit = false
        var i = 0
        while (i < xs.length - 1) {
          clipSeg(xs(i), ys(i), xs(i + 1), ys(i + 1), lo, hi) match {
            case Some((t0, t1)) =>
              val dx = (xs(i + 1) - xs(i)).toDouble
              val dy = (ys(i + 1) - ys(i)).toDouble
              val ax = round(xs(i) + t0 * dx); val ay = round(ys(i) + t0 * dy)
              val bx = round(xs(i) + t1 * dx); val by = round(ys(i) + t1 * dy)
              if (ax == bx && ay == by) {
                // degenerate after rounding: drop, break contiguity
                if (cur.nonEmpty) { parts += cur.toArray; cur.clear() }
                prevUnclippedExit = false
              } else {
                val contiguous = prevUnclippedExit && t0 == 0.0 &&
                  cur.nonEmpty
                if (!contiguous && cur.nonEmpty) {
                  parts += cur.toArray; cur.clear()
                }
                if (cur.isEmpty) cur += ((ax, ay))
                cur += ((bx, by))
                prevUnclippedExit = t1 == 1.0
              }
            case None =>
              if (cur.nonEmpty) { parts += cur.toArray; cur.clear() }
              prevUnclippedExit = false
          }
          i += 1
        }
        if (cur.nonEmpty) parts += cur.toArray
        parts.toArray
      case 3 =>
        require(xs0.length >= 3, s"ring needs >= 3 points")
        var xs = xs0; var ys = ys0
        if (simplify && dpInBounds(xs, ys)) {
          val keep = dpKeep(xs, ys, tol)
          val idx = keep.indices.filter(keep).toArray
          if (idx.length < 3) {
            // tiny-polygon placeholder: bbox square, min 1 px wide
            val xmin = xs0.min; val xmax = xs0.max
            val ymin = ys0.min; val ymax = ys0.max
            val x2 = math.max(xmax, xmin + 1)
            val y2 = math.max(ymax, ymin + 1)
            xs = Array(xmin, x2, x2, xmin)
            ys = Array(ymin, ymin, y2, y2)
          } else {
            xs = idx.map(xs0); ys = idx.map(ys0)
          }
        }
        // interior fast path: all four half-plane passes copy a fully-
        // inside ring unchanged and rounding integer-valued doubles is
        // the identity, so skip the double round-trip entirely
        val rounded: Array[(Long, Long)] =
          if (allowFast && inBounds(xs, ys, lo, hi)) {
            xs.indices.map(i => (xs(i), ys(i))).toArray
          } else {
            var ring = xs.indices
              .map(i => (xs(i).toDouble, ys(i).toDouble)).toArray
            ring = shPass(ring, axisX = true, keepGe = true, lo)
            ring = shPass(ring, axisX = true, keepGe = false, hi)
            ring = shPass(ring, axisX = false, keepGe = true, lo)
            ring = shPass(ring, axisX = false, keepGe = false, hi)
            ring.map(p => (round(p._1), round(p._2)))
          }
        // consecutive-duplicate removal, then the closing duplicate
        val dedup = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        rounded.foreach { p =>
          if (dedup.isEmpty || dedup.last != p) dedup += p
        }
        if (dedup.length > 1 && dedup.head == dedup.last)
          dedup.remove(dedup.length - 1)
        if (dedup.length < 3) Array.empty
        else {
          // vector-tile-spec 2.1 §4.3.3.3: an exterior ring must have
          // POSITIVE surveyor's-formula area in tile (y-down) coords.
          // Synthesized features happen to arrive correctly wound; an
          // arbitrary input ring must be reversed, not emitted wrong.
          var out = dedup.toArray
          var area2 = 0L
          var i = 0
          while (i < out.length) {
            val (x1, y1) = out(i)
            val (x2, y2) = out(if (i + 1 == out.length) 0 else i + 1)
            area2 += x1 * y2 - x2 * y1
            i += 1
          }
          if (area2 < 0L) out = out.reverse
          Array(out)
        }
      case other =>
        throw new IllegalArgumentException(s"unknown gtype $other")
    }
  }

  /** The fused expression kernel: prep + stats + final geometry bytes
    * in one call (see class doc). `n_parts = 0` (with empty geom)
    * marks a feature that dropped out of this tile.
    */
  private def dropped: InternalRow =
    InternalRow(Array.emptyByteArray, 0L, 0L, 0L)

  def prepEncoded(gtype: Int, wpts: ArrayData, simplify: Boolean, tol: Long,
      tile: InternalRow): InternalRow = {
    val buffer = tile.getInt(0)
    val shift = tile.getInt(1)
    // tile-local quantization fused here: arithmetic shiftright of the
    // MaxZoom world pixel IS floor division by 2^(MaxZoom - z), then
    // the tile origin moves to (0, 0) — bit-exact with the oracle's
    // per-zoom floor(w · 2^z) (see MvtTiles.tilesOf)
    val offX = tile.getLong(2) * Extent
    val offY = tile.getLong(3) * Extent
    val n = wpts.numElements()
    val xs = new Array[Long](n)
    val ys = new Array[Long](n)
    var i = 0
    while (i < n) {
      val p = wpts.getStruct(i, 2)
      xs(i) = (p.getLong(0) >> shift) - offX
      ys(i) = (p.getLong(1) >> shift) - offY
      i += 1
    }
    val parts = prep(gtype, xs, ys, simplify, tol, buffer)
    if (parts.isEmpty) dropped
    else {
      var nPts = 0L
      var chk = 0L
      var pi = 0
      while (pi < parts.length) {
        val part = parts(pi)
        var j = 0
        while (j < part.length) {
          nPts += 1
          chk += nPts * (part(j)._1 * 8191L + part(j)._2)
          j += 1
        }
        pi += 1
      }
      val geom = MvtKernel.packedBody(MvtKernel.geometryCmds(gtype, parts))
      InternalRow(geom, parts.length.toLong, nPts, chk)
    }
  }

  private val emptyArr =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.empty[Any])

  /** Generator-shaped wrapper consumed by the expression: a dropped
    * feature becomes an EMPTY array so `explode` removes the row with
    * no downstream predicate — the predicate is what Catalyst would
    * push back beside the kernel and evaluate it twice (see class
    * doc). The shared empty instance is immutable and copied by the
    * consuming UnsafeProjection, so reuse across rows is safe.
    */
  def prepEncodedArr(gtype: Int, wpts: ArrayData, simplify: Boolean,
      tol: Long, tile: InternalRow): ArrayData = {
    val row = prepEncoded(gtype, wpts, simplify, tol, tile)
    if (row.getLong(1) == 0L) emptyArr
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](row))
  }
}
