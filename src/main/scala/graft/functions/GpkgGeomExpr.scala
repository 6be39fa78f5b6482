package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** GeoPackage geometry BLOB encoder (SURVEY S7 depth) — the binary
  * payload the reference's GeoPackage layer rows carry
  * (`/root/reference/src/io/GeoPackageWriter.ts:475-831`, where the
  * @ngageoint library builds it): the GeoPackageBinary header
  * (magic `GP`, version 0, flags = little-endian + XY envelope,
  * srs_id 4326, envelope [minx maxx miny maxy]) followed by
  * little-endian ISO WKB. With this, the driver-side SQLite post-step
  * is inserts only — every byte of the geometry column comes out of
  * the engine.
  *
  * Input: `(wkb_type int, parts array<array<array<struct<lon,lat>>>>)`
  * — parts → rings → points, uniformly nested so one kernel call covers
  * Point(1) / LineString(2) / Polygon(3) / MultiPoint(4) /
  * MultiLineString(5) / MultiPolygon(6); single-part values use a
  * one-element outer array, non-polygons a one-element ring level.
  * Polygon rings arrive UNCLOSED and the encoder appends the first
  * vertex (WKB rings are closed by definition).
  *
  * Output: `struct<blob binary, n_points int, minx, maxx, miny, maxy>`
  * — n_points counts INPUT vertices (before ring closing) and the
  * envelope doubles are the exact values written into the header, so
  * a query can cross-check the encoder against a SQL oracle's
  * count/min/max without parsing bytes (GpkgSpec does the byte-level
  * parse in tests).
  */
object GpkgGeomExpr {
  val schema: StructType = StructType(Seq(
    StructField("blob", BinaryType, nullable = false),
    StructField("n_points", IntegerType, nullable = false),
    StructField("minx", DoubleType, nullable = false),
    StructField("maxx", DoubleType, nullable = false),
    StructField("miny", DoubleType, nullable = false),
    StructField("maxy", DoubleType, nullable = false)))

  /** parts → rings → (lon, lat): any other shape is cast to it or
    * refused at analysis, never read raw by the encoder.
    */
  private val Parts = ArrayType(ArrayType(ArrayType(StructType(Seq(
    StructField("lon", DoubleType), StructField("lat", DoubleType))))))

  def gpkgGeom(wkbType: Column, parts: Column): Column =
    column(StaticInvoke(GpkgKernel.getClass, schema, "encode",
      Seq(expression(wkbType), expression(parts)),
      Seq(IntegerType, Parts), returnNullable = true))
}

/** GeoPackageBinary + little-endian WKB byte building. */
object GpkgKernel {

  val Srid = 4326
  /** bit0 = header little-endian, envelope indicator 1 (XY) in bits 1-3. */
  val Flags: Byte = 0x03

  private final class Buf(cap: Int) {
    val bb: java.nio.ByteBuffer = java.nio.ByteBuffer.allocate(cap)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def u8(v: Int): Unit = bb.put(v.toByte)
    def i32(v: Int): Unit = bb.putInt(v)
    def f64(v: Double): Unit = bb.putDouble(v)
  }

  private def ringPts(parts: ArrayData, part: Int, ring: Int)
      : ArrayData = parts.getArray(part).getArray(ring)

  /** WKB size for one single geometry of `t` over its rings. */
  private def wkbSize(t: Int, rings: Array[Array[(Double, Double)]]): Int =
    t match {
      case 1 => 21
      case 2 => 9 + 16 * rings(0).length
      case 3 => 9 + rings.map(r => 4 + 16 * (r.length + 1)).sum
      case _ => throw new IllegalArgumentException(s"wkbSize($t)")
    }

  private def writeSingle(b: Buf, t: Int,
      rings: Array[Array[(Double, Double)]]): Unit = {
    b.u8(1) // little-endian WKB
    b.i32(t)
    t match {
      case 1 =>
        // a Point part carries exactly one vertex — a multi-vertex
        // ring here would make n_points/envelope (computed over every
        // supplied vertex) silently disagree with the WKB payload
        require(rings.length == 1 && rings(0).length == 1,
          s"POINT part must have exactly 1 vertex, got " +
            s"${rings.map(_.length).mkString("/")}")
        val (x, y) = rings(0)(0)
        b.f64(x); b.f64(y)
      case 2 =>
        b.i32(rings(0).length)
        rings(0).foreach { case (x, y) => b.f64(x); b.f64(y) }
      case 3 =>
        b.i32(rings.length)
        rings.foreach { r =>
          b.i32(r.length + 1)
          r.foreach { case (x, y) => b.f64(x); b.f64(y) }
          b.f64(r(0)._1); b.f64(r(0)._2) // close the ring
        }
    }
  }

  def encode(wkbType: Int, parts: ArrayData): InternalRow = {
    // materialize parts → rings → (lon, lat)
    val mat = Array.tabulate(parts.numElements()) { pi =>
      val p = parts.getArray(pi)
      Array.tabulate(p.numElements()) { ri =>
        val r = ringPts(parts, pi, ri)
        Array.tabulate(r.numElements()) { j =>
          val s = r.getStruct(j, 2)
          (s.getDouble(0), s.getDouble(1))
        }
      }
    }
    val all = mat.flatten.flatten
    require(all.nonEmpty, "empty geometry")
    var minx = all(0)._1; var maxx = all(0)._1
    var miny = all(0)._2; var maxy = all(0)._2
    all.foreach { case (x, y) =>
      if (x < minx) minx = x
      if (x > maxx) maxx = x
      if (y < miny) miny = y
      if (y > maxy) maxy = y
    }
    val singleType = wkbType match {
      case 4 => 1
      case 5 => 2
      case 6 => 3
      case t => t
    }
    val wkbLen =
      if (wkbType <= 3) wkbSize(wkbType, mat(0))
      else 9 + mat.map(wkbSize(singleType, _)).sum
    val b = new Buf(8 + 32 + wkbLen)
    b.u8('G'); b.u8('P'); b.u8(0); b.u8(Flags)
    b.i32(Srid)
    b.f64(minx); b.f64(maxx); b.f64(miny); b.f64(maxy)
    if (wkbType <= 3) writeSingle(b, wkbType, mat(0))
    else {
      b.u8(1)
      b.i32(wkbType)
      b.i32(mat.length)
      mat.foreach(writeSingle(b, singleType, _))
    }
    assert(b.bb.remaining() == 0,
      s"gpkg size mismatch: ${b.bb.remaining()} left")
    new GenericInternalRow(Array[Any](b.bb.array(), all.length,
      minx, maxx, miny, maxy))
  }
}
