package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Even-odd point-in-polygon containment as NATIVE kernels — one
  * per-edge loop instead of the former
  * triple-interpreted fold (`aggregate(sequence(1, size(ring)), …)`
  * with two `element_at`s and the crossing arithmetic re-built per
  * edge per point), which every containment consumer (J2 refine, E4
  * polygon assign, G6 inside-point, OSM multipolygon assembly, the
  * MultiPart coverage count) evaluates candidate-pair × point ×
  * edge times.
  *
  * Value contract (pinned by PointInRingsSpec against the replaced
  * folds, bit-identically):
  * - crossing test in the EXACT op order of the fold (and of the
  *   DuckDB oracles): `((y1 > py) != (y2 > py)) &&
  *   (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)` — IEEE doubles,
  *   division by zero yielding ±Inf exactly as before;
  * - vertex order v1 = ring[i], v2 = ring[i % n + 1] (1-based wrap);
  * - an edge with any null/missing coordinate leaves the parity
  *   unchanged (the fold's `when(null-crosses, !acc).otherwise(acc)`
  *   algebra); a null RING inside the ring set likewise;
  * - null px/py/ring(s) input → null result (expression-level null
  *   propagation, as before).
  */
object GeoContainKernels {

  /** Even-odd parity contribution of one ring. */
  def inRing(px: Double, py: Double, ring: ArrayData): Boolean = {
    val n = ring.numElements()
    var acc = false
    var i = 0
    while (i < n) {
      if (!ring.isNullAt(i)) {
        val v1 = ring.getArray(i)
        val j = (i + 1) % n
        if (!ring.isNullAt(j)) {
          val v2 = ring.getArray(j)
          if (v1.numElements() >= 2 && v2.numElements() >= 2 &&
              !v1.isNullAt(0) && !v1.isNullAt(1) &&
              !v2.isNullAt(0) && !v2.isNullAt(1)) {
            val x1 = v1.getDouble(0); val y1 = v1.getDouble(1)
            val x2 = v2.getDouble(0); val y2 = v2.getDouble(1)
            if (((y1 > py) != (y2 > py)) &&
                px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
              acc = !acc
          }
        }
      }
      i += 1
    }
    acc
  }

  /** Even-odd parity across a full ring set (outer + hole rings). */
  def inRings(px: Double, py: Double, rings: ArrayData): Boolean = {
    val n = rings.numElements()
    var acc = false
    var i = 0
    while (i < n) {
      if (!rings.isNullAt(i) && inRing(px, py, rings.getArray(i)))
        acc = !acc
      i += 1
    }
    acc
  }
}

object PointInRingsExpr {
  private val Ring = ArrayType(ArrayType(DoubleType))

  def pointInPolygon(px: Column, py: Column, ring: Column): Column =
    column(StaticInvoke(GeoContainKernels.getClass, BooleanType, "inRing",
      Seq(expression(px), expression(py), expression(ring)),
      Seq(DoubleType, DoubleType, Ring), returnNullable = false))

  def pointInRings(px: Column, py: Column, rings: Column): Column =
    column(StaticInvoke(GeoContainKernels.getClass, BooleanType, "inRings",
      Seq(expression(px), expression(py), expression(rings)),
      Seq(DoubleType, DoubleType, ArrayType(Ring)), returnNullable = false))
}
