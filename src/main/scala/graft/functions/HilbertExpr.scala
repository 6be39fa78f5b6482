package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.LongType

/** `graft_hilbert_d(cell_x, cell_y)` — distance along the order-16
  * Hilbert curve of the 65536x65536 grid (the classic iterative
  * xy2d: per bit level, quadrant digit + rotation/reflection of the
  * residual square). Output in [0, 2^32).
  *
  * The data-layout companion to the Morton interleave
  * ([[graft.operators.SpatialLayout.mortonZ]]): both linearize the
  * grid for write clustering, but Hilbert-CONSECUTIVE cells are
  * always grid-adjacent (no Morton-style jumps across half the
  * plane), so sorting by Hilbert distance gives files whose
  * consecutive row groups stay spatially contiguous — better run
  * compression and fewer row groups touched by a moving window.
  * Range planning works here too:
  * [[graft.operators.SpatialLayout.hilbertRangesForBbox]] decomposes
  * a bbox into contiguous d-ranges exactly like the Morton planner
  * (aligned 2^k squares occupy ALIGNED 4^k d-blocks on the Hilbert
  * curve as well), and the exact covers typically coalesce into
  * FEWER ranges because neighboring squares are curve-adjacent more
  * often — so Hilbert can serve both the layout and the read-planning
  * role.
  *
  * Pure 64-bit integer state machine (the DuckDB oracle replays the
  * identical 16 unrolled steps): [[HilbertExpr.hilbertD]] calls the
  * static [[HilbertExpr.xy2d]] through `StaticInvoke`, so codegen is
  * one call inside the stage.
  */
object HilbertExpr {

  /** `graft_hilbert_d` as a column: both cells implicitly cast to
    * bigint.
    */
  def hilbertD(x: Column, y: Column): Column =
    column(StaticInvoke(HilbertExpr.getClass, LongType, "xy2d",
      Seq(expression(x), expression(y)), Seq(LongType, LongType),
      returnNullable = false))

  /** Grid side (order 16). */
  val Side = 65536L

  /** Hilbert distance of (x, y) on the 65536^2 grid; coordinates are
    * taken mod the grid (callers pass in-range cells). Standard
    * iterative formulation: walk bit levels high-to-low, accumulate
    * s^2 * quadrant, rotate/reflect the residual coordinates.
    */
  def xy2d(x0: Long, y0: Long): Long = {
    var x = x0 & (Side - 1)
    var y = y0 & (Side - 1)
    var d = 0L
    var s = Side / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      // rotate the residual square so the sub-curve orientation is
      // canonical for the next level
      if (ry == 0) {
        if (rx == 1) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val t = x; x = y; y = t
      }
      x &= s - 1
      y &= s - 1
      s /= 2
    }
    d
  }

  /** Inverse (d2xy) — used by the spec to prove the bijection. */
  def d2xy(d0: Long): (Long, Long) = {
    var rx = 0L; var ry = 0L
    var x = 0L; var y = 0L
    var t = d0
    var s = 1L
    while (s < Side) {
      rx = 1L & (t / 2)
      ry = 1L & (t ^ rx)
      if (ry == 0) {
        if (rx == 1) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s *= 2
    }
    (x, y)
  }
}
