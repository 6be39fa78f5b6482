package graft

import graft.functions.MvtKernel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.aggregate.{
  HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.unsafe.types.UTF8String

/** The one tile encode, the sorted-stream TileStreamEncodeExec
  * ([[operators.MvtTiles.encodeOfStreamed]]): its bytes equal the
  * frozen output of the collect_list encoder it replaced, a tile is
  * the concatenation of [[MvtKernel.LayerStream]] frames in layer-name
  * order whatever order the features arrive in, the stats it sums in
  * the walk equal the ones its bytes decode to, and the plan has one
  * (z, tx, ty) exchange and no aggregate.
  */
class MvtStreamEncodeSpec extends SparkSpec {
  import spark.implicits._

  private def prep = operators.MvtTiles.prepped(spark, sf)

  /** One `zoom<TAB>tile_x<TAB>tile_y<TAB>hex(tile)` line per tile,
    * sorted by tile: the form `mvt_tile_bytes.txt` froze.
    */
  private def canon(tiles: DataFrame): Seq[String] =
    tiles.select("zoom", "tile_x", "tile_y", "tile").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getAs[Array[Byte]](3)))
      .sortBy(t => (t._1, t._2, t._3))
      .map { case (z, x, y, b) =>
        s"$z\t$x\t$y\t${b.map(v => f"$v%02x").mkString}" }.toSeq

  test("streamed stats equal the stats decoded from its tile bytes") {
    // the exec's in-walk sums against what it actually framed:
    // n_layers is the number of layer frames, the rest the per-layer
    // sums decoded back out of the bytes. (MvtTilesSpec checks the same
    // sums against q_tiles_mvt's relational rollup.)
    def byTile(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7))).toMap
    val decoded = byTile(operators.MvtTiles.decodedStats(
        operators.MvtTiles.encodeOfStreamed(prep))
      .groupBy("zoom", "tile_x", "tile_y")
      .agg(count(lit(1)), sum("n_features").cast("long"),
        sum("n_parts").cast("long"), sum("n_points").cast("long"),
        sum("coord_checksum").cast("long")))
    val streamed = byTile(operators.MvtTiles.encodeStatsOf(prep))
    assert(streamed.nonEmpty)
    assert(streamed === decoded)
    // the carried sums are live data, not defaulted zeros
    assert(streamed.values.exists(v => v._3 > 0 && v._4 > 0))
  }

  test("streamed tile bytes equal the frozen collect_list encoder's") {
    val want = Golden.header(Golden.lines("mvt_tile_bytes.txt"))
    val rows = canon(operators.MvtTiles.encodeOfStreamed(prep))
    assert(rows.size.toString == want("rows"),
      s"${rows.size} tiles, ${want("rows")} frozen")
    assert(Golden.sha256(rows) == want("sha256"))
  }

  test("an empty prepped frame encodes to zero tiles") {
    assert(operators.MvtTiles.encodeOfStreamed(prep.limit(0)).count() == 0)
  }

  test("a tile is its LayerStream frames in layer-name order") {
    // one tile, three layers, features arriving interleaved across
    // partitions; the last feature has a null tag value
    val feats = Seq(("spots", 7L, 1, Seq(3 -> 5)),
      ("runs", 4L, 2, Seq(10 -> 10, 40 -> 12)), ("lifts", 9L, 2,
        Seq(0 -> 0, 7 -> 7)), ("spots", 2L, 1, Seq(4095 -> 0)),
      ("runs", 1L, 3, Seq(0 -> 0, 8 -> 0, 8 -> 8)), ("lifts", 3L, 1,
        Seq(1 -> 1)))
      .zipWithIndex.map { case ((layer, fid, gtype, pts), i) =>
        (layer, fid, gtype, MvtKernel.packedBody(MvtKernel.geometryCmds(
          gtype, Array(pts.map(p => (p._1.toLong, p._2.toLong)).toArray))),
          Seq("name", "kind"), Seq(s"f$i", if (i == 5) null else layer))
      }
    val df = feats.toDF("layer", "fid", "gtype", "geom", "pk", "pv")
      .repartition(3)
      .select(lit(12L).as("z"), lit(2140L).as("tx"), lit(1436L).as("ty"),
        col("*"), lit(1L).as("n_parts"), lit(1L).as("n_points"),
        lit(0L).as("chk"))
    val got = operators.MvtTiles.encodeOfStreamed(df).collect()
    assert(got.length == 1)
    assert(got.head.getAs[Int]("n_layers") == 3)
    def strs(s: Seq[String]) = new GenericArrayData(s.map(UTF8String.fromString))
    val want = feats.sortBy(f => (f._1, f._2)).groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (layer, fs) =>
        val ls = new MvtKernel.LayerStream(layer)
        fs.sortBy(_._2).foreach(f =>
          ls.feature(f._2, f._3, f._4, strs(f._5), strs(f._6)))
        ls.frame()
      }
    assert(got.head.getAs[Array[Byte]]("tile").toSeq == want)
  }

  test("streamed plan: one exchange, no aggregate, the exec present") {
    val df = operators.MvtTiles.encodeOfStreamed(prep)
    df.write.format("noop").mode("overwrite").save()
    val nodes = planNodes(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[plans.TileStreamEncodeExec]))
    assert(!nodes.exists(n => n.isInstanceOf[ObjectHashAggregateExec] ||
      n.isInstanceOf[HashAggregateExec] || n.isInstanceOf[SortAggregateExec]))
    // the prep side contributes its own exchanges (cap windows); the
    // encode itself must add exactly ONE (z,tx,ty) exchange directly
    // under the exec (possibly through the AQE stage/sort wrappers)
    def under(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      planNodes(p).exists(_.isInstanceOf[ShuffleExchangeExec])
    val exec = nodes.collectFirst {
      case e: plans.TileStreamEncodeExec => e }.get
    assert(under(exec.child), "expected the encode exchange+sort below the exec")
  }
}
