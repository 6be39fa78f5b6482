package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Mapbox Vector Tile (MVT) encoder — the in-engine replacement for
  * the reference's tippecanoe shell-out
  * (`/root/reference/src/transforms/TilesGenerator.ts:15-97`), as a
  * native Catalyst expression over per-tile grouped features.
  *
  * Input: ONE tile's features across all layers as
  * `array<struct<layer string, fid bigint, gtype int,
  *               geom binary, pkeys array<string>,
  *               pvals array<string>>>`
  * sorted by (layer, fid) — `sort_array(collect_list(...))` upstream
  * makes the bytes deterministic under any shuffle order. `geom` is
  * the feature's FINAL packed geometry command body, pre-encoded by
  * MvtPrepKernel.prepEncoded on the map side (quantize/simplify/clip
  * + varint packing fused into one pre-shuffle walk), so this kernel
  * only frames and concatenates bytes — the per-point work never
  * crosses the exchange and is never done twice.
  *
  * Output: the complete tile blob — a length-delimited `Tile.layers`
  * frame (field 3) per layer run, concatenated in layer-name order,
  * per the public vector-tile-spec 2.1 wire format: name(1),
  * features(2), keys(3), values(4), extent(5), version(15)=2;
  * `Feature` = id(1), packed tags(2), type(3), packed command-encoded
  * geometry(4); params zigzag-encoded, MoveTo/LineTo/ClosePath
  * command integers, cursor carried across commands. Encoding the
  * whole tile in one call means ONE wide exchange on (z, tx, ty)
  * builds final tiles — no second shuffle of per-layer frames.
  *
  * This runs once per tile AFTER aggregation — not on the per-feature
  * hot path — so interpreted eval with a codegen passthrough (same
  * kernel call emitted into generated code) is the right shape.
  *
  * Not a StaticInvoke: its type check depends on the struct arity.
  */
case class MvtTileEncodeExpr(features: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def child: Expression = features
  // n_layers falls out of the same layer-run walk the encoder already
  // does — returning it here saves an interpreted
  // size(array_distinct(transform(...))) pass over every tile group.
  // Likewise the per-tile stat sums (n_features/n_parts/n_points/chk):
  // when the input structs carry the prep kernel's per-feature stats
  // as trailing fields 6-8, the encoder sums them inside the walk it
  // already does. Three shapes were measured at sf1 (26.85M features):
  // four extra agg functions riding the collect_list
  // ObjectHashAggregate cost ~5 s/run (the agg's per-row update path
  // is the hot loop); re-deriving the stats by varint-walking the
  // packed geom bytes inside this kernel cost ~3 s/run (the walk is
  // as long as the splice it shadows); three trailing bigints through
  // the collect cost ~2 s — the cheapest. With 6-field input (the
  // blob/stream paths) tile/n_layers/n_features are all meaningful
  // (n_features is the element count at any arity); only the three
  // trailing sums n_parts/n_points/chk read as zeros.
  override def dataType: DataType = StructType(Seq(
    StructField("tile", BinaryType, nullable = false),
    StructField("n_layers", IntegerType, nullable = false),
    StructField("n_features", IntegerType, nullable = false),
    StructField("n_parts", LongType, nullable = false),
    StructField("n_points", LongType, nullable = false),
    StructField("chk", LongType, nullable = false)))
  override def nullable: Boolean = true

  // The kernel reads tile features positionally (UnsafeRow getStruct
  // needs the EXACT writer arity), so the element arity is resolved
  // statically from the child's type and passed into every call.
  private lazy val elementArity: Int = features.dataType match {
    case ArrayType(s: StructType, _) => s.length
    case _ => 6
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    features.dataType match {
      case ArrayType(s: StructType, _)
          if s.length == 6 ||
            (s.length == 9 &&
              s.fields.drop(6).forall(_.dataType == LongType)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_mvt_tile expects array<struct> of arity 6, or 9 with " +
            s"three trailing bigint stat fields, got $other")
    }

  override protected def nullSafeEval(feats: Any): Any =
    MvtKernel.encodeTile(feats.asInstanceOf[ArrayData], elementArity)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      f => s"graft.functions.MvtKernel.encodeTile($f, $elementArity)")

  override protected def withNewChildInternal(
      newChild: Expression): MvtTileEncodeExpr = copy(features = newChild)
}

object MvtTileEncodeExpr {
  def mvtTile(features: Column): Column =
    GraftExpressionBridge.column(MvtTileEncodeExpr(
      GraftExpressionBridge.expression(features)))
}

/** Protobuf wire-format byte building for the MVT layer frame. */
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

  /** Encode one whole tile: `feats` rows sorted by (layer, fid), each
    * (layer string, fid long, gtype int, geom binary,
    *  pkeys array<string>, pvals array<string>[, n_parts long,
    *  n_points long, chk long]).
    * Consecutive same-layer runs become one layer frame each; the tile
    * is their concatenation (layer-name order follows from the sort).
    * `arity` is the features' struct width (UnsafeRow reads need the
    * exact writer arity); with arity 9 the trailing per-feature stats
    * are summed inside the same walk — zero extra passes — so the
    * stats query needs no aggregate functions beyond the collect.
    * Returns (tile bytes, n_layers, n_features, n_parts, n_points, chk).
    */
  def encodeTile(feats: ArrayData, arity: Int)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val out = new java.io.ByteArrayOutputStream()
    val n = feats.numElements()
    var from = 0
    var nLayers = 0
    // per-tile stat sums accumulate inside encodeLayerSlice's
    // per-feature loop (the struct is already fetched there) — the
    // walk that frames the bytes is the only walk (ADVICE r17)
    val stats = new Array[Long](3)
    while (from < n) {
      // compare UTF8String directly — converting every row's layer to
      // a java String would allocate per feature in the tile kernel
      val name = feats.getStruct(from, arity).getUTF8String(0)
      var until = from + 1
      while (until < n &&
        feats.getStruct(until, arity).getUTF8String(0).equals(name))
        until += 1
      out.write(
        encodeLayerSlice(name.toString, feats, from, until, arity, stats))
      nLayers += 1
      from = until
    }
    org.apache.spark.sql.catalyst.InternalRow(
      out.toByteArray, nLayers, n, stats(0), stats(1), stats(2))
  }

  /** One layer frame from the [from, until) slice of tile features.
    * With arity 9 the trailing per-feature stats (n_parts, n_points,
    * chk) are added into `stats(0..2)` inside the same loop that
    * frames each feature — zero extra passes over the array.
    */
  private def encodeLayerSlice(name: String, feats: ArrayData,
      from: Int, until: Int, arity: Int, stats: Array[Long]): Array[Byte] = {
    val ls = new LayerStream(name)
    var i = from
    while (i < until) {
      val f = feats.getStruct(i, arity)
      if (arity > 6) {
        stats(0) += f.getLong(6)
        stats(1) += f.getLong(7)
        stats(2) += f.getLong(8)
      }
      ls.feature(f.getLong(1), f.getInt(2), f.getBinary(3),
        f.getArray(4), f.getArray(5))
      i += 1
    }
    ls.frame()
  }

  /** Incremental single-layer frame builder — THE layer framing
    * implementation, shared between the per-tile array path
    * (encodeLayerSlice, fed by the collect_list aggregation) and the
    * sorted-stream path ([[graft.plans.TileStreamEncodeExec]], which
    * consumes features one at a time off a sorted shuffle and never
    * materializes a per-tile array). One implementation means the two
    * paths are byte-identical by construction.
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
