package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Static geodesic kernels called from generated code (Scala objects
  * emit static forwarders, so `GeoKernels.lineLengthM(...)` resolves
  * from Janino-compiled Java).
  *
  * Geodesic polyline length (G1): [[GeoFunctions.lineLengthM]] calls
  * [[GeoKernels.lineLengthM]] through `StaticInvoke`. The declarative form (`aggregate` over `sequence` with a haversine
  * lambda) is a higher-order function — CodegenFallback, so every row
  * pays interpreted expression-tree evaluation in the hottest scalar
  * path of the run queries (length/statistics/pipeline). The kernel
  * is a single static call (tight JVM loop over the unsafe array data,
  * no per-element virtual dispatch) and stays inside the surrounding
  * WholeStageCodegen span.
  *
  * Bit-compatibility contract: [[GeoKernels.lineLengthM]] reproduces
  * the former expression tree's float op order exactly (same
  * `java.lang.Math` intrinsics the built-in trig expressions codegen
  * to, same left-to-right accumulation, same `2R·asin(√a)` constant
  * folding), so every oracle hash stays identical.
  */
object GeoKernels {
  private val TwoR = 2.0 * GeoFunctions.EarthRadiusM

  /** Haversine in meters — the exact op order of
    * [[GeoFunctions.haversineM]]'s expression tree.
    */
  def haversineM(lon1: Double, lat1: Double, lon2: Double,
      lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLon / 2), 2)
    TwoR * math.asin(math.sqrt(a))
  }

  /** Sum of haversine segment lengths, left to right; <2 points → 0.
    * Null or degenerate (<2 ordinates) points are SKIPPED — the chain
    * connects the surrounding valid points — instead of NPE-ing on a
    * legal `array<array<double>>` value with null elements (a
    * GenericArrayData element unboxes null). Our canonical geometry
    * never produces them, but a library caller legitimately can.
    */
  def lineLengthM(coords: ArrayData): Double = {
    val n = coords.numElements()
    var acc = 0.0
    var have = false
    var lon1 = 0.0
    var lat1 = 0.0
    var i = 0
    while (i < n) {
      if (!coords.isNullAt(i)) {
        val p = coords.getArray(i)
        if (p.numElements() >= 2 && !p.isNullAt(0) && !p.isNullAt(1)) {
          val lon2 = p.getDouble(0)
          val lat2 = p.getDouble(1)
          if (have) acc = acc + haversineM(lon1, lat1, lon2, lat2)
          lon1 = lon2; lat1 = lat2; have = true
        }
      }
      i += 1
    }
    acc
  }
}
