package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** Movie duration/timescale from a real MP4 (ISO BMFF) box tree —
  * the video member of the header-decode family: an iterative walk of
  * the top-level size-prefixed boxes to `moov`, then of its children
  * to `mvhd` (version 0 and 1 layouts), returning
  * `struct(timescale int, duration bigint, duration_ms bigint)`;
  * NULL when the tree is malformed or `mvhd` is absent.
  */
object VideoMetaExpr {
  val schema: StructType = StructType(Seq(
    StructField("timescale", IntegerType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  def videoMeta(bytes: Column): Column =
    column(StaticInvoke(ImageKernels.getClass, schema, "videoMeta",
      Seq(expression(bytes)), Seq(BinaryType), returnNullable = true))

  private[functions] def parse(b: Array[Byte]): InternalRow = {
    def be32(i: Int): Long =
      ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def tag(i: Int, t: String): Boolean =
      b(i) == t(0) && b(i + 1) == t(1) && b(i + 2) == t(2) && b(i + 3) == t(3)
    def mvhdAt(body: Int, end: Int): InternalRow = {
      if (body + 4 > end) return null
      val version = b(body) & 0xff
      // v0: ctime(4) mtime(4) timescale(4) duration(4)
      // v1: ctime(8) mtime(8) timescale(4) duration(8)
      val (tsOff, durOff, dur64) =
        if (version == 1) (body + 20, body + 24, true)
        else (body + 12, body + 16, false)
      if (durOff + (if (dur64) 8 else 4) > end) return null
      val timescale = be32(tsOff)
      val duration = if (dur64) be64(durOff) else be32(durOff)
      if (timescale <= 0) return null
      new GenericInternalRow(Array[Any](timescale.toInt, duration,
        duration * 1000L / timescale))
    }
    // walk boxes in [pos, end); descend into moov, return at mvhd
    def walk(start: Int, end: Int, depth: Int): InternalRow = {
      var pos = start
      while (pos + 8 <= end) {
        val size = be32(pos)
        if (size < 8 || pos + size > end) return null
        if (tag(pos + 4, "moov") && depth == 0) {
          val r = walk(pos + 8, pos + size.toInt, 1)
          if (r != null) return r
        } else if (tag(pos + 4, "mvhd") && depth == 1) {
          return mvhdAt(pos + 8, pos + size.toInt)
        }
        pos += size.toInt
      }
      null
    }
    if (b.length < 8) return null
    walk(0, b.length, 0)
  }
}

/** Audio stream metadata from a real WAV (RIFF) container header —
  * the audio twin of [[ImageDimsExpr]]: a native byte-walking
  * kernel over the length-prefixed RIFF chunk list (chunks may
  * appear in any order and carry word-aligned padding), returning
  * `struct(channels, sample_rate, bits, data_bytes, duration_ms)`;
  * NULL for unrecognized/truncated input or a missing fmt/data chunk.
  * Duration is exact integer math: data_bytes · 1000 / byte_rate.
  */
object AudioMetaExpr {
  val schema: StructType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("data_bytes", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  def audioMeta(bytes: Column): Column =
    column(StaticInvoke(ImageKernels.getClass, schema, "audioMeta",
      Seq(expression(bytes)), Seq(BinaryType), returnNullable = true))

  /** WAV chunk walk (called from [[ImageKernels]]). */
  private[functions] def parse(b: Array[Byte]): InternalRow = {
    def le16(i: Int): Int = ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)
    def le32(i: Int): Long =
      ((b(i + 3) & 0xffL) << 24) | ((b(i + 2) & 0xffL) << 16) |
        ((b(i + 1) & 0xffL) << 8) | (b(i) & 0xffL)
    def tag(i: Int, t: String): Boolean =
      i + 4 <= b.length && b(i) == t(0) && b(i + 1) == t(1) &&
        b(i + 2) == t(2) && b(i + 3) == t(3)
    if (b.length < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) return null
    var pos = 12
    var channels = -1; var rate = -1; var bits = -1; var byteRate = -1L
    var dataLen = -1L
    while (pos + 8 <= b.length && (channels < 0 || dataLen < 0)) {
      val len = le32(pos + 4)
      val body = pos + 8
      if (tag(pos, "fmt ")) {
        if (body + 16 > b.length) return null
        channels = le16(body + 2)
        rate = le32(body + 4).toInt
        byteRate = le32(body + 8)
        bits = le16(body + 14)
      } else if (tag(pos, "data")) {
        dataLen = len
      }
      // chunks are word-aligned: odd lengths carry a pad byte
      pos = body + len.toInt + (len.toInt & 1)
    }
    if (channels < 0 || dataLen < 0 || byteRate <= 0) return null
    new GenericInternalRow(Array[Any](channels, rate, bits, dataLen,
      dataLen * 1000L / byteRate))
  }
}
