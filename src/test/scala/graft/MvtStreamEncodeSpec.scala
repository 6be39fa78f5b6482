package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.aggregate.{
  HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}

/** The sorted-stream tile encode (TileStreamEncodeExec) must be
  * indistinguishable from the collect_list aggregate encoder
  * ([[operators.MvtTiles.encodeOf]]): same per-tile stats, same tile
  * BYTES per tile — the two encoders share MvtKernel.LayerStream, so
  * this pins the
  * exec's run-boundary logic (tile change, layer change, final flush),
  * its sort contract, and the plan shape (one exchange, zero
  * aggregates).
  */
class MvtStreamEncodeSpec extends SparkSpec {

  private def prep = operators.MvtTiles.prepped(spark, sf)

  test("streamed stats equal the aggregate path's stats") {
    // The aggregate path's stats: n_layers from the collect_list
    // encoder, and the feature/part/point/checksum sums decoded back
    // out of its tile bytes — so the exec's in-walk sums are checked
    // against what the other encoder actually wrote. (MvtTilesSpec
    // checks the same sums against q_tiles_mvt's relational rollup.)
    def byTile(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7))).toMap
    val enc = operators.MvtTiles.encodeOf(prep).cache()
    try {
      val decoded = operators.MvtTiles.decodedStats(enc)
        .groupBy("zoom", "tile_x", "tile_y")
        .agg(sum("n_features").as("n_features"), sum("n_parts").as("n_parts"),
          sum("n_points").as("n_points"),
          sum("coord_checksum").as("coord_checksum"))
      val agg = byTile(enc.select(col("zoom"), col("tile_x"), col("tile_y"),
          col("n_layers").cast("long").as("n_layers"))
        .join(decoded, Seq("zoom", "tile_x", "tile_y"))
        .select(col("zoom"), col("tile_x"), col("tile_y"), col("n_layers"),
          col("n_features").cast("long"), col("n_parts").cast("long"),
          col("n_points").cast("long"), col("coord_checksum").cast("long")))
      val streamed = byTile(operators.MvtTiles.encodeStatsOf(prep))
      assert(streamed.nonEmpty)
      assert(streamed === agg)
      // the carried sums are live data, not defaulted zeros
      assert(streamed.values.exists(v => v._3 > 0 && v._4 > 0))
    } finally enc.unpersist()
  }

  test("streamed tile bytes are bit-identical to the aggregate path") {
    val agg = operators.MvtTiles.encodeOf(prep).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
        r.getAs[Array[Byte]]("tile").toSeq).toMap
    val streamed = operators.MvtTiles.encodeOfStreamed(prep).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
        r.getAs[Array[Byte]]("tile").toSeq).toMap
    assert(streamed.keySet === agg.keySet)
    val bad = agg.keysIterator.filter(k => streamed(k) != agg(k)).toSeq
    assert(bad.isEmpty, s"byte-divergent tiles: ${bad.take(5)}")
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
