package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Mapbox Vector Tile (MVT) encoding — the in-engine replacement for
  * the reference's tippecanoe shell-out (its
  * `src/transforms/TilesGenerator.ts:15-97`). The tile encode itself
  * is [[graft.plans.TileStreamEncodeExec]], which walks one tile's
  * features sorted by (layer, fid) and frames each layer run through
  * [[MvtKernel.LayerStream]]. A feature's `geom` is
  * its FINAL packed geometry command body, pre-encoded by
  * MvtPrepKernel.prepEncoded on the map side (quantize/simplify/clip
  * + varint packing fused into one pre-shuffle walk), so the encode
  * only frames and concatenates bytes — the per-point work never
  * crosses the exchange and is never done twice.
  *
  * A tile is a length-delimited `Tile.layers` frame (field 3) per
  * layer run, concatenated in layer-name order, per the public
  * vector-tile-spec 2.1 wire format: name(1), features(2), keys(3),
  * values(4), extent(5), version(15)=2; `Feature` = id(1), packed
  * tags(2), type(3), packed command-encoded geometry(4); params
  * zigzag-encoded, MoveTo/LineTo/ClosePath command integers, cursor
  * carried across commands.
  */
object MvtKernel {

  val Extent = 4096
  val Version = 2

  /** LEB128 unsigned varint append. */
  private def varint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  /** Tag byte(s) for (fieldNumber, wireType). */
  private def tag(out: java.io.ByteArrayOutputStream, field: Int,
      wire: Int): Unit = varint(out, (field.toLong << 3) | wire)

  private def lenDelimited(out: java.io.ByteArrayOutputStream, field: Int,
      bytes: Array[Byte]): Unit = {
    tag(out, field, 2)
    varint(out, bytes.length.toLong)
    out.write(bytes, 0, bytes.length)
  }

  /** Zigzag for 32-bit params per the MVT spec. */
  def zigzag(n: Long): Long = (n << 1) ^ (n >> 63)

  private def command(id: Int, count: Int): Long =
    ((count.toLong << 3) | id.toLong) & 0xffffffffL

  /** Geometry command stream for one feature's prepared parts.
    * gtype: 1=POINT (one single-point part), 2=LINESTRING (each part
    * a MoveTo+LineTo run — multi-part = MultiLineString), 3=POLYGON
    * (each part a ring with implicit ClosePath — the ring's first
    * vertex is NOT repeated in the input). The cursor carries across
    * parts per the MVT spec.
    */
  def geometryCmds(gtype: Int, parts: Array[Array[(Long, Long)]])
      : Array[Long] = {
    val buf = scala.collection.mutable.ArrayBuffer[Long]()
    var cx = 0L
    var cy = 0L
    def emitPoint(p: (Long, Long)): Unit = {
      buf += zigzag(p._1 - cx)
      buf += zigzag(p._2 - cy)
      cx = p._1; cy = p._2
    }
    require(parts.nonEmpty, "empty geometry")
    gtype match {
      case 1 =>
        require(parts.length == 1 && parts(0).length == 1,
          s"POINT must be one single-point part")
        buf += command(1, 1); emitPoint(parts(0)(0))
      case 2 =>
        parts.foreach { part =>
          // vector-tile-spec 2.1: LineTo count MUST be > 0 — a 1-point
          // line would encode an invalid command stream, fail loudly
          require(part.length >= 2,
            s"LINESTRING part needs >= 2 points, got ${part.length}")
          buf += command(1, 1); emitPoint(part(0))
          buf += command(2, part.length - 1)
          var i = 1
          while (i < part.length) { emitPoint(part(i)); i += 1 }
        }
      case 3 =>
        parts.foreach { ring =>
          require(ring.length >= 3,
            s"POLYGON ring needs >= 3 points, got ${ring.length}")
          buf += command(1, 1); emitPoint(ring(0))
          buf += command(2, ring.length - 1)
          var i = 1
          while (i < ring.length) { emitPoint(ring(i)); i += 1 }
          buf += command(7, 1)
        }
      case other =>
        throw new IllegalArgumentException(s"unknown gtype $other")
    }
    buf.toArray
  }

  /** Varint-packed field body (no tag/length framing) — the form the
    * prep kernel pre-encodes geometry into, spliced verbatim here.
    */
  def packedBody(vals: Array[Long]): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    vals.foreach(varint(body, _))
    body.toByteArray
  }

  private def packed(out: java.io.ByteArrayOutputStream, field: Int,
      vals: Array[Long]): Unit =
    lenDelimited(out, field, packedBody(vals))

  /** One `Value` message holding a string_value (field 1). */
  private def valueMsg(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    lenDelimited(out, 1, s.getBytes("UTF-8"))
    out.toByteArray
  }

  /** Incremental single-layer frame builder — THE layer framing
    * implementation: [[graft.plans.TileStreamEncodeExec]] consumes a
    * tile's features one at a time off a sorted shuffle, feeds each
    * layer run to one builder and concatenates the frames, so no
    * per-tile array ever materializes.
    */
  final class LayerStream(name: String) {
    private val keyIdx = new java.util.LinkedHashMap[String, Integer]()
    private val valIdx = new java.util.LinkedHashMap[String, Integer]()
    private val featureFrames = new java.io.ByteArrayOutputStream()

    /** Append one feature frame. `geom` arrives pre-encoded from
      * MvtPrepKernel.prepEncoded (the packed varint command body) —
      * splice, don't re-walk.
      */
    def feature(fid: Long, gtype: Int, geom: Array[Byte],
        pkeys: ArrayData, pvals: ArrayData): Unit = {
      val tags = scala.collection.mutable.ArrayBuffer[Long]()
      var k = 0
      while (k < pkeys.numElements()) {
        if (!pvals.isNullAt(k)) {
          val key = pkeys.getUTF8String(k).toString
          val v = pvals.getUTF8String(k).toString
          val ki = keyIdx.computeIfAbsent(key, _ => keyIdx.size())
          val vi = valIdx.computeIfAbsent(v, _ => valIdx.size())
          tags += ki.toLong
          tags += vi.toLong
        }
        k += 1
      }
      val fb = new java.io.ByteArrayOutputStream()
      tag(fb, 1, 0); varint(fb, fid)
      if (tags.nonEmpty) packed(fb, 2, tags.toArray)
      tag(fb, 3, 0); varint(fb, gtype.toLong)
      lenDelimited(fb, 4, geom)
      lenDelimited(featureFrames, 2, fb.toByteArray)
    }

    /** Close the layer: the complete length-delimited `Tile.layers`
      * frame (field 3). The builder is spent afterwards.
      */
    def frame(): Array[Byte] = {
      val layer = new java.io.ByteArrayOutputStream()
      lenDelimited(layer, 1, name.getBytes("UTF-8"))
      layer.write(featureFrames.toByteArray)
      keyIdx.keySet().forEach(k => lenDelimited(layer, 3, k.getBytes("UTF-8")))
      valIdx.keySet().forEach(v => lenDelimited(layer, 4, valueMsg(v)))
      tag(layer, 5, 0); varint(layer, Extent.toLong)
      tag(layer, 15, 0); varint(layer, Version.toLong)
      val frame = new java.io.ByteArrayOutputStream()
      lenDelimited(frame, 3, layer.toByteArray)
      frame.toByteArray
    }
  }
}
