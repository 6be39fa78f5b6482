package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.BinaryType

/** Gzip compress/decompress as codegen'd kernel calls — the wire format
  * real tile artifacts carry: tippecanoe gzips `tile_data` by default
  * (`/root/reference/src/transforms/TilesGenerator.ts` shells out to
  * tippecanoe with no `--no-tile-compression`, so the reference's
  * .mbtiles holds gzip members), and tile servers hand the member to
  * clients as `Content-Encoding: gzip`. Compression runs DISTRIBUTED
  * as a per-tile column transform before the single-file sink's
  * collect; only already-compressed bytes cross to the driver.
  *
  * Determinism note: the compressed BYTES are JVM-zlib-specific, so
  * nothing hashes them — the oracle gate always decompresses first
  * (gunzip ∘ gzip = id is the property under test, plus stock
  * python gzip reading the member in MbtilesSpec).
  */
object GzipExpr {
  def gzip(c: Column): Column =
    column(StaticInvoke(GzipKernel.getClass, BinaryType, "gzip",
      Seq(expression(c)), Seq(BinaryType), returnNullable = false))
  def gunzip(c: Column): Column =
    column(StaticInvoke(GzipKernel.getClass, BinaryType, "gunzip",
      Seq(expression(c)), Seq(BinaryType), returnNullable = false))
}

object GzipKernel {
  def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  def gunzip(b: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(b))
    try in.readAllBytes() finally in.close()
  }
}
