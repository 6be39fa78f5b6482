package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Protobuf decoder for the engine's own MVT tiles: parses a full
  * tile blob (concatenated `Tile.layers` frames per vector-tile-spec
  * 2.1) back into per-layer stats —
  * `array<struct<layer, n_features, n_parts, n_points,
  * coord_checksum>>` where parts = MoveTo commands, points = decoded
  * command-stream vertices (ClosePath adds none), and the checksum is
  * the same order-weighted `Σ (i+1)·(px·8191+py)` over the cursor-
  * reconstructed absolute coordinates that the stats query computes
  * relationally. Feeding this through the SAME DuckDB oracle as
  * `q_tiles_mvt` puts the byte encoding itself under the driver's
  * hash gate: any wire-format defect shows up as a stats mismatch.
  */
object MvtDecodeExpr {
  def mvtDecode(tile: Column): Column =
    column(StaticInvoke(MvtDecodeKernel.getClass, MvtDecodeKernel.outType,
      "decode", Seq(expression(tile)), Seq(BinaryType),
      returnNullable = false))
}

object MvtDecodeKernel {

  val outType: DataType = ArrayType(StructType(Seq(
    StructField("layer", StringType, nullable = false),
    StructField("n_features", LongType, nullable = false),
    StructField("n_parts", LongType, nullable = false),
    StructField("n_points", LongType, nullable = false),
    StructField("coord_checksum", LongType, nullable = false))))

  private final class Reader(val buf: Array[Byte], var pos: Int,
      val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        require(pos < end, "varint ran off the buffer")
        b = buf(pos) & 0xff
        pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      v
    }
    /** Length prefix, validated against the enclosing frame — a
      * malformed/negative length must fail loudly, not walk backwards
      * or escape the buffer.
      */
    def len(): Int = {
      val n = varint()
      require(n >= 0 && pos + n <= end, s"bad length $n at $pos/$end")
      n.toInt
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      // NB: must bind n BEFORE `pos +=` — `pos += len()` reads the old
      // pos before len() advances it past the length varint
      case 2 => val n = len(); pos += n
      case 5 => pos += 4
      case 1 => pos += 8
      case w => throw new IllegalArgumentException(s"wire type $w")
    }
    def sub(): Reader = {
      val n = len()
      val r = new Reader(buf, pos, pos + n)
      pos += n
      r
    }
  }

  private def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  /** (n_parts, n_points, checksum) from one feature's packed geometry. */
  private def walkGeometry(geom: Reader): (Long, Long, Long) = {
    var cx = 0L; var cy = 0L
    var nParts = 0L; var nPts = 0L; var chk = 0L
    while (geom.hasMore) {
      val cmd = geom.varint()
      val id = (cmd & 7L).toInt
      val count = (cmd >>> 3).toInt
      id match {
        case 1 | 2 =>
          if (id == 1) nParts += count
          var i = 0
          while (i < count) {
            cx += unzigzag(geom.varint())
            cy += unzigzag(geom.varint())
            nPts += 1
            chk += nPts * (cx * 8191L + cy)
            i += 1
          }
        case 7 => // ClosePath: no params, no point
        case other =>
          throw new IllegalArgumentException(s"geometry command $other")
      }
    }
    (nParts, nPts, chk)
  }

  def decode(tile: Array[Byte]): GenericArrayData = {
    val top = new Reader(tile, 0, tile.length)
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    while (top.hasMore) {
      val tag = top.varint()
      require((tag >>> 3) == 3L && (tag & 7L) == 2L,
        s"expected Tile.layers frame, got field ${tag >>> 3}")
      val layer = top.sub()
      var name: String = null
      var nFeat = 0L; var nParts = 0L; var nPts = 0L; var chk = 0L
      while (layer.hasMore) {
        val t = layer.varint()
        val field = (t >>> 3).toInt
        val wire = (t & 7L).toInt
        field match {
          case 1 =>
            val n = layer.len()
            name = new String(layer.buf, layer.pos, n, "UTF-8")
            layer.pos += n
          case 2 =>
            val feat = layer.sub()
            nFeat += 1
            while (feat.hasMore) {
              val ft = feat.varint()
              val ff = (ft >>> 3).toInt
              val fw = (ft & 7L).toInt
              if (ff == 4) {
                val (p, n, c) = walkGeometry(feat.sub())
                nParts += p; nPts += n; chk += c
              } else feat.skip(fw)
            }
          case _ => layer.skip(wire)
        }
      }
      require(name != null, "layer frame without a name")
      out += InternalRow(UTF8String.fromString(name), nFeat, nParts,
        nPts, chk)
    }
    new GenericArrayData(out.toArray)
  }
}
