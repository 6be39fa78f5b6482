package graft

import graft.functions.MvtKernel
import org.apache.spark.sql.functions._

/** Decode-side proof for the in-engine MVT encoder: a hand-rolled
  * protobuf reader parses the emitted tile blobs back into layers /
  * features / absolute geometry and the result must round-trip to the
  * quantized points the stats query computes independently.
  */
class MvtTilesSpec extends SparkSpec {

  // ---- minimal protobuf reader (wire format only) -------------------------
  private final class Reader(b: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0
      var v = 0L
      var go = true
      while (go) {
        val x = b(pos) & 0xff
        pos += 1
        v |= (x & 0x7fL) << shift
        shift += 7
        go = (x & 0x80) != 0
      }
      v
    }
    def bytes(): (Int, Int) = {
      val len = varint().toInt
      val start = pos
      pos += len
      (start, start + len)
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => bytes()
      case 5 => pos += 4
    }
  }

  private case class Feat(id: Long, gtype: Int, tags: Seq[Int],
      geom: Seq[Long])
  private case class Layer(name: String, version: Int, extent: Int,
      keys: Seq[String], values: Seq[String], feats: Seq[Feat])

  private def parseTile(b: Array[Byte]): Seq[Layer] = {
    val r = new Reader(b, 0, b.length)
    val layers = Seq.newBuilder[Layer]
    while (r.hasMore) {
      val tag = r.varint()
      assert((tag >> 3) == 3 && (tag & 7) == 2, s"unexpected tile field $tag")
      val (s, e) = r.bytes()
      layers += parseLayer(b, s, e)
    }
    layers.result()
  }

  private def parseLayer(b: Array[Byte], start: Int, end: Int): Layer = {
    val r = new Reader(b, start, end)
    var name = ""
    var version = -1
    var extent = -1
    val keys = Seq.newBuilder[String]
    val values = Seq.newBuilder[String]
    val feats = Seq.newBuilder[Feat]
    while (r.hasMore) {
      val tag = r.varint()
      val (field, wire) = ((tag >> 3).toInt, (tag & 7).toInt)
      field match {
        case 1 =>
          val (s, e) = r.bytes(); name = new String(b, s, e - s, "UTF-8")
        case 2 =>
          val (s, e) = r.bytes(); feats += parseFeature(b, s, e)
        case 3 =>
          val (s, e) = r.bytes(); keys += new String(b, s, e - s, "UTF-8")
        case 4 =>
          val (s, e) = r.bytes()
          val vr = new Reader(b, s, e)
          val vt = vr.varint()
          assert((vt >> 3) == 1 && (vt & 7) == 2, "only string_value emitted")
          val (vs, ve) = vr.bytes()
          values += new String(b, vs, ve - vs, "UTF-8")
        case 5 => extent = r.varint().toInt
        case 15 => version = r.varint().toInt
        case _ => r.skip(wire)
      }
    }
    Layer(name, version, extent, keys.result(), values.result(),
      feats.result())
  }

  private def parseFeature(b: Array[Byte], start: Int, end: Int): Feat = {
    val r = new Reader(b, start, end)
    var id = -1L
    var gtype = -1
    val tags = Seq.newBuilder[Int]
    val geom = Seq.newBuilder[Long]
    while (r.hasMore) {
      val tag = r.varint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 0) => id = r.varint()
        case (2, 2) =>
          val (s, e) = r.bytes()
          val pr = new Reader(b, s, e)
          while (pr.hasMore) tags += pr.varint().toInt
        case (3, 0) => gtype = r.varint().toInt
        case (4, 2) =>
          val (s, e) = r.bytes()
          val gr = new Reader(b, s, e)
          while (gr.hasMore) geom += gr.varint()
        case (_, w) => r.skip(w)
      }
    }
    Feat(id, gtype, tags.result(), geom.result())
  }

  private def unzig(v: Long): Long = (v >>> 1) ^ -(v & 1)

  /** Decode a command stream back to absolute (x, y) vertices,
    * asserting the command grammar for the feature's geometry type.
    */
  private def decodeGeom(gtype: Int, cmds: Seq[Long]): Seq[(Long, Long)] = {
    var i = 0
    var cx = 0L
    var cy = 0L
    val pts = Seq.newBuilder[(Long, Long)]
    var sawClose = false
    while (i < cmds.length) {
      val id = (cmds(i) & 7).toInt
      val count = (cmds(i) >> 3).toInt
      i += 1
      id match {
        case 1 | 2 =>
          for (_ <- 0 until count) {
            cx += unzig(cmds(i)); cy += unzig(cmds(i + 1)); i += 2
            pts += ((cx, cy))
          }
        case 7 => sawClose = true
      }
    }
    if (gtype == 3) assert(sawClose, "polygon must ClosePath")
    else assert(!sawClose, "non-polygon must not ClosePath")
    pts.result()
  }

  // ---- kernel-level unit checks -------------------------------------------

  test("zigzag round-trips negatives") {
    for (v <- Seq(0L, 1L, -1L, 2L, -2L, 4095L, -4096L, 123456L))
      assert(unzig(MvtKernel.zigzag(v)) === v)
  }

  test("geometry command stream: linestring grammar and deltas") {
    val cmds = MvtKernel.geometryCmds(2,
      Array(Array((10L, 20L), (14L, 20L), (14L, 26L))))
    assert((cmds(0) & 7) === 1 && (cmds(0) >> 3) === 1)
    assert(decodeGeom(2, cmds) === Seq((10L, 20L), (14L, 20L), (14L, 26L)))
  }

  test("geometry command stream: multi-part line carries the cursor") {
    val cmds = MvtKernel.geometryCmds(2, Array(
      Array((0L, 0L), (10L, 0L)), Array((20L, 5L), (30L, 5L))))
    assert(decodeGeom(2, cmds) ===
      Seq((0L, 0L), (10L, 0L), (20L, 5L), (30L, 5L)))
    // two MoveTo commands = two parts
    assert(cmds.count(c => (c & 7) == 1) === 2)
  }

  test("geometry command stream: polygon closes") {
    val cmds = MvtKernel.geometryCmds(3,
      Array(Array((0L, 0L), (100L, 0L), (50L, 80L))))
    assert(decodeGeom(3, cmds) === Seq((0L, 0L), (100L, 0L), (50L, 80L)))
  }

  // ---- end-to-end round-trip over real tiles ------------------------------

  test("encoded tiles round-trip to the independently-computed stats") {
    val tiles = operators.MvtTiles.tileBytes(spark, sf)
      .filter(col("zoom") === 12)
    val stats = SparkEntry.queries("q_tiles_mvt")(spark, sf)
      .filter(col("zoom") === 12)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)) ->
        (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap

    val rows = tiles.collect()
    assert(rows.nonEmpty)
    var checkedLayers = 0
    for (row <- rows) {
      val (tx, ty) = (row.getLong(1), row.getLong(2))
      val blob = row.getAs[Array[Byte]]("tile")
      val layers = parseTile(blob)
      assert(layers.size === row.getInt(3))
      // layer frames concatenate in name order
      assert(layers.map(_.name) === layers.map(_.name).sorted)
      for (l <- layers) {
        assert(l.version === 2 && l.extent === 4096)
        assert(l.keys.distinct === l.keys)
        assert(l.values.distinct === l.values)
        // features sorted by id; recompute the stats-query checksum
        assert(l.feats.map(_.id) === l.feats.map(_.id).sorted)
        var chk = 0L
        var npts = 0L
        var nparts = 0L
        for (f <- l.feats) {
          val pts = decodeGeom(f.gtype, f.geom)
          assert(f.tags.length % 2 === 0)
          f.tags.grouped(2).foreach { case Seq(ki, vi) =>
            assert(ki < l.keys.length && vi < l.values.length)
          }
          pts.zipWithIndex.foreach { case ((px, py), idx) =>
            chk += (idx + 1L) * (px * 8191 + py)
          }
          npts += pts.length
          // MoveTo commands = parts; walk the grammar (params are raw
          // longs in f.geom, so a flat scan would miscount)
          var i = 0
          while (i < f.geom.length) {
            val id = (f.geom(i) & 7).toInt
            val count = (f.geom(i) >> 3).toInt
            i += 1
            if (id == 1 || id == 2) i += count * 2
            if (id == 1) nparts += count
          }
        }
        val (nFeat, nParts, nPts, checksum) = stats((tx, ty, l.name))
        assert(l.feats.size.toLong === nFeat, s"layer ${l.name}@$tx/$ty")
        assert(nparts === nParts)
        assert(npts === nPts)
        assert(chk === checksum)
        checkedLayers += 1
      }
    }
    assert(checkedLayers > 0)
    // every stats row at this zoom appears in some decoded tile
    assert(checkedLayers === stats.size)
  }

  test("the decode gate fails loudly on truncated tiles") {
    // MvtDecodeKernel feeds the q_tiles_mvt_bytes oracle gate: a
    // truncation that silently decoded into plausible smaller stats
    // would corrupt the very hash the gate exists to protect. Cutting
    // anywhere INSIDE a layer frame must throw (cutting exactly
    // between frames legitimately yields a valid shorter tile).
    val blob = operators.MvtTiles.tileBytes(spark, sf)
      .filter(col("zoom") === 12).limit(1).collect()
      .head.getAs[Array[Byte]]("tile")
    assert(blob.length > 8)
    // frame boundaries: walk the top-level length-delimited layers
    val boundaries = {
      val b = Seq.newBuilder[Int]
      val r = new Reader(blob, 0, blob.length)
      while (r.hasMore) { r.varint(); r.bytes(); b += r.pos }
      b.result().toSet
    }
    var threw = 0
    for (cut <- 1 until blob.length if !boundaries.contains(cut)) {
      try {
        graft.functions.MvtDecodeKernel.decode(
          java.util.Arrays.copyOf(blob, cut))
        fail(s"decode accepted a tile truncated mid-frame at $cut")
      } catch {
        case _: IllegalArgumentException => threw += 1
      }
    }
    assert(threw > 0)
  }

  test("reliable-checkpoint flag yields the identical tile stats") {
    // both barrier modes must produce the same build; the flag only
    // changes where the materialized feature rows live (executor
    // blocks vs the fault-tolerant checkpoint dir)
    val key = operators.MvtTiles.ReliableCheckpointKey
    def statsRows() = SparkEntry.queries("q_tiles_mvt")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val local = statsRows()
    spark.conf.set(key, "true")
    try {
      val reliable = statsRows()
      assert(spark.sparkContext.getCheckpointDir.isDefined,
        "reliable mode must provision a checkpoint dir")
      assert(reliable === local)
    } finally spark.conf.unset(key)
  }

  test("density cap bounds every low-zoom tile-layer group") {
    // the drop-densest analog: no (z≤4) group may exceed 64 features,
    // no (z5-8) group 512 — the z0 "whole world in one tile" group is
    // bounded BEFORE the per-tile collect, so the byte path never
    // aggregates an unbounded list at low zoom
    val stats = SparkEntry.queries("q_tiles_mvt")(spark, sf)
      .select(col("zoom"), col("n_features")).collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val (z, n) = (r.getInt(0), r.getLong(1))
      if (z <= 4) assert(n <= 64L, s"z$z group has $n features")
      else if (z <= 8) assert(n <= 512L, s"z$z group has $n features")
    }
  }

  test("arity-9 encoder stat-carry equals the stats query's rollup") {
    // The per-tile sums of q_tiles_mvt_encode are carried by the
    // encoder itself: TileStreamEncodeExec sums the prep kernel's
    // per-feature stats inside the walk that frames the bytes (the
    // carry once rode three trailing bigints of an arity-9 input) — a
    // code path independent of q_tiles_mvt's relational sum()/count()
    // rollup. Pinning their equality in the fast suite means the stat
    // carry does not rest solely on the external DuckDB sweep.
    def byTile(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7))).toMap
    val viaKernel = byTile(operators.MvtTiles
      .encodeStatsOf(operators.MvtTiles.prepped(spark, sf)))
    val viaAgg = byTile(SparkEntry.queries("q_tiles_mvt")(spark, sf)
      .groupBy("zoom", "tile_x", "tile_y")
      .agg(count(lit(1)).as("n_layers"), sum("n_features"),
        sum("n_parts"), sum("n_points"), sum("coord_checksum")))
    assert(viaKernel.nonEmpty)
    assert(viaKernel === viaAgg)
    // the carried sums are live data, not defaulted zeros
    assert(viaKernel.values.exists(v => v._3 > 0 && v._4 > 0))
  }

  test("runs layer carries name/difficulty tags with dedup'd tables") {
    val one = operators.MvtTiles.tileBytes(spark, sf)
      .filter(col("zoom") === 9)
      .limit(200).collect()
      .flatMap(r => parseTile(r.getAs[Array[Byte]]("tile")))
      .find(l => l.name == "runs" && l.feats.exists(_.tags.nonEmpty))
    assert(one.isDefined, "expected a runs layer with tagged features")
    val l = one.get
    assert(l.keys.contains("name"))
    val f = l.feats.find(_.tags.nonEmpty).get
    val tagged = f.tags.grouped(2).map { case Seq(ki, vi) =>
      l.keys(ki) -> l.values(vi)
    }.toMap
    assert(tagged.contains("name"))
  }
}
