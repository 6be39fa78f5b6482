package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Image dimensions from raw container headers — a REAL media decode
  * step that needs no codec libraries, as a native kernel: walks the byte array, recognizes PNG (IHDR), JPEG
  * (segment scan to the first SOF frame header), GIF (87a/89a logical
  * screen), and BMP (BITMAPINFOHEADER), and returns
  * `struct(format string, width int, height int)`; NULL for anything
  * unrecognized or truncated. This is the part of the multimodal
  * decode path (SURVEY §0) that is implementable offline for real —
  * pixel decode stays behind the documented stub.
  *
  * The JPEG path is the reason this is a kernel, not built-ins: SOF
  * sits at a variable offset behind arbitrary APPn/DQT/... segments,
  * so the parse is a loop over length-prefixed segments (the PNG/GIF
  * fixed offsets alone could have been conv(hex(substring(...)))).
  */
object ImageDimsExpr {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  def imageDims(bytes: Column): Column =
    column(StaticInvoke(ImageKernels.getClass, schema, "imageDims",
      Seq(expression(bytes)), Seq(BinaryType), returnNullable = true))
}

/** Header-walking parsers called from generated code. */
object ImageKernels {

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def le16(b: Array[Byte], i: Int): Int =
    ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)
  private def le32(b: Array[Byte], i: Int): Int =
    ((b(i + 3) & 0xff) << 24) | ((b(i + 2) & 0xff) << 16) |
      ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)

  private def row(fmt: String, w: Int, h: Int): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(fmt), w, h))

  /** WAV metadata (see [[AudioMetaExpr]]); static here so generated
    * code resolves one kernel holder for the media parsers.
    */
  def audioMeta(b: Array[Byte]): InternalRow = AudioMetaExpr.parse(b)

  /** MP4 mvhd metadata (see [[VideoMetaExpr]]). */
  def videoMeta(b: Array[Byte]): InternalRow = VideoMetaExpr.parse(b)

  /** Null for unrecognized/truncated input; see [[ImageDimsExpr]]. */
  def imageDims(b: Array[Byte]): InternalRow = {
    val n = b.length
    // PNG: 8-byte signature, IHDR must be the first chunk
    if (n >= 24 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
        b(3) == 'G' && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' &&
        b(15) == 'R')
      return row("png", be32(b, 16), be32(b, 20))
    // GIF87a / GIF89a: logical screen descriptor, little-endian
    if (n >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      return row("gif", le16(b, 6), le16(b, 8))
    // BMP: BITMAPINFOHEADER (height may be negative = top-down)
    if (n >= 26 && b(0) == 'B' && b(1) == 'M')
      return row("bmp", le32(b, 18), math.abs(le32(b, 22)))
    // JPEG: walk length-prefixed segments to the first SOFn frame
    // header (C0-CF except C4 DHT, C8 JPG-extension, CC DAC)
    if (n >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var pos = 2
      while (pos + 3 < n) {
        if ((b(pos) & 0xff) != 0xff) return null // desynchronized
        val marker = b(pos + 1) & 0xff
        if (marker == 0xff) { pos += 1 } // fill byte
        else if ((marker >= 0xd0 && marker <= 0xd9)) { pos += 2 }
        else if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          if (pos + 8 >= n) return null
          return row("jpeg", be16(b, pos + 7), be16(b, pos + 5))
        } else {
          val segLen = be16(b, pos + 2)
          if (segLen < 2) return null
          pos += 2 + segLen
        }
      }
      return null
    }
    null
  }
}
