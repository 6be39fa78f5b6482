package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, GenericInternalRow, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Sorted-stream whole-tile MVT encode: THE tile encode — the batch
  * tiles ([[graft.operators.MvtTiles]]' `tileBytes` and the
  * `q_tiles_mvt_encode` stats), the streaming tile-refresh and the
  * scale probes — with no per-tile aggregation.
  *
  * EnsureRequirements plans ONE hash exchange on (z, tx, ty) plus a
  * spillable local sort on (z, tx, ty, layer, fid, …), and the
  * operator streams the sorted run: each feature is framed the moment
  * it is read ([[graft.functions.MvtKernel.LayerStream]]), a layer
  * frame closes when the layer changes, a tile row emits when the
  * tile changes, and the prep kernel's per-feature stats are summed on
  * the way. No per-tile array ever materializes, so memory per task is
  * O(one tile's bytes) regardless of how dense a tile gets.
  *
  * The sort order extends past (layer, fid) to (gtype, geom, pkeys,
  * pvals), so the byte stream stays shuffle-order-independent even
  * under duplicate (layer, fid) pairs.
  *
  * Child contract (by position; [[graft.operators.MvtTiles]] builds
  * the projection): z bigint, tx bigint, ty bigint, layer string,
  * fid bigint, gtype int, geom binary, pkeys array<string>,
  * pvals array<string>, n_parts bigint, n_points bigint, chk bigint.
  * Output: zoom int, tile_x bigint, tile_y bigint, n_layers int,
  * n_features int, n_parts bigint, n_points bigint, chk bigint,
  * tile binary — the union of both downstream projections (the
  * stats query drops `tile`, the blob path drops the stat sums).
  */
case class TileStreamEncodePlan(
    child: LogicalPlan,
    // the child attrs this node consumes, as a constructor EXPRESSION
    // member: QueryPlan collects them into `references`, which keeps
    // ColumnPruning from slipping an empty Project under an operator
    // whose own output is entirely producedAttributes (observed: the
    // optimizer pruned the child to zero columns and the exec's
    // ClusteredDistribution went Nil)
    inputOrder: Seq[Attribute],
    // output attrs as a constructor member, NOT a recomputed val: a
    // transformUp copy must keep the SAME exprIds or every downstream
    // projection resolved against this node dangles
    output: Seq[Attribute] = TileStreamEncodePlan.outputAttrs)
  extends UnaryNode {
  // fresh attributes produced here, none forwarded from the child
  override def producedAttributes
      : org.apache.spark.sql.catalyst.expressions.AttributeSet = outputSet
  override protected def withNewChildInternal(
      newChild: LogicalPlan): TileStreamEncodePlan = copy(child = newChild)
}

object TileStreamEncodePlan {
  private[plans] def outputAttrs: Seq[Attribute] = Seq(
    AttributeReference("zoom", IntegerType, nullable = false)(),
    AttributeReference("tile_x", LongType, nullable = false)(),
    AttributeReference("tile_y", LongType, nullable = false)(),
    AttributeReference("n_layers", IntegerType, nullable = false)(),
    AttributeReference("n_features", IntegerType, nullable = false)(),
    AttributeReference("n_parts", LongType, nullable = false)(),
    AttributeReference("n_points", LongType, nullable = false)(),
    AttributeReference("chk", LongType, nullable = false)(),
    AttributeReference("tile", BinaryType, nullable = false)())
}

/** Plans [[TileStreamEncodePlan]] as [[TileStreamEncodeExec]];
  * injected through [[graft.GraftExtensions]] beside AsofJoinStrategy.
  */
object TileStreamEncodeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: TileStreamEncodePlan =>
      TileStreamEncodeExec(p.output, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

case class TileStreamEncodeExec(output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def producedAttributes
      : org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  // one partition = complete tiles: cluster on the tile key; the sort
  // below makes each tile's features (and each tile's layers) one
  // contiguous run
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(child.output.take(3)) :: Nil

  // (z, tx, ty, layer, fid, gtype, geom, pkeys, pvals): every column
  // that reaches the bytes, so they do not depend on shuffle order (the
  // trailing stat fields only tie-break rows identical through pvals,
  // which are then bit-equal anyway) — EnsureRequirements plans this
  // as the exchange's spillable local sort
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(child.output.take(9).map(SortOrder(_, Ascending)))

  override protected def withNewChildInternal(
      newChild: SparkPlan): TileStreamEncodeExec = copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val outAttrs = output
    child.execute().mapPartitions({ iter =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val row = new GenericInternalRow(outAttrs.length)

      new Iterator[InternalRow] {
        // current tile state; layerName/z/tx/ty are COPIES (the sorter
        // reuses row buffers between next() calls)
        private var open = false
        private var z = 0L; private var tx = 0L; private var ty = 0L
        private var layerName: UTF8String = _
        private var layer: graft.functions.MvtKernel.LayerStream = _
        private val tileOut = new java.io.ByteArrayOutputStream()
        private var nLayers = 0; private var nFeatures = 0
        private var nParts = 0L; private var nPoints = 0L; private var chk = 0L
        private var pendingOut: InternalRow = _

        private def closeLayer(): Unit = {
          tileOut.write(layer.frame())
          nLayers += 1
          layer = null
        }

        private def emitTile(): Unit = {
          closeLayer()
          row.setInt(0, z.toInt)
          row.setLong(1, tx)
          row.setLong(2, ty)
          row.setInt(3, nLayers)
          row.setInt(4, nFeatures)
          row.setLong(5, nParts)
          row.setLong(6, nPoints)
          row.setLong(7, chk)
          row.update(8, tileOut.toByteArray)
          pendingOut = proj(row).copy()
          tileOut.reset()
          nLayers = 0; nFeatures = 0; nParts = 0L; nPoints = 0L; chk = 0L
          open = false
        }

        private def consume(r: InternalRow): Unit = {
          val rz = r.getLong(0); val rtx = r.getLong(1); val rty = r.getLong(2)
          val rLayer = r.getUTF8String(3)
          if (open && (rz != z || rtx != tx || rty != ty)) emitTile()
          if (!open) {
            open = true; z = rz; tx = rtx; ty = rty
            layerName = rLayer.clone()
            layer = new graft.functions.MvtKernel.LayerStream(
              layerName.toString)
          } else if (!rLayer.equals(layerName)) {
            closeLayer()
            layerName = rLayer.clone()
            layer = new graft.functions.MvtKernel.LayerStream(
              layerName.toString)
          }
          layer.feature(r.getLong(4), r.getInt(5), r.getBinary(6),
            r.getArray(7), r.getArray(8))
          nFeatures += 1
          nParts += r.getLong(9)
          nPoints += r.getLong(10)
          chk += r.getLong(11)
        }

        override def hasNext: Boolean = {
          while (pendingOut == null && iter.hasNext) consume(iter.next())
          if (pendingOut == null && open) emitTile() // final flush
          pendingOut != null
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val out = pendingOut
          pendingOut = null
          out
        }
      }
    }, preservesPartitioning = true)
  }
}
