package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, GenericInternalRow, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._

/** Sorted-stream run re-segmentation (Normalization N2): split each
  * run into maximal stretches of constant arc membership and emit each
  * stretch that the run owns once.
  *
  * The node keeps the one unavoidable exchange (hash on run_id) and
  * Spark's spillable local sort on (run_id, idx) — EnsureRequirements
  * plans both — and walks each sorted run once:
  *  - seg_no starts at 1 for each run and increments whenever the
  *    membership hash `mh` differs from the previous row's. It counts
  *    changes over ALL of the run's rows, owned and unowned, so an
  *    unowned stretch between two same-membership owned stretches
  *    keeps them separate segments.
  *  - A stretch is owned when its least member is the run itself.
  *  - An owned stretch emits one row when it closes: its pts are the
  *    idx-ordered p1 chain plus the last row's p2; members and props
  *    are the stretch's constant values.
  * Memory per task is O(one segment's points), however long a run
  * gets; no window and no per-segment aggregation run.
  *
  * Child contract (by position; [[graft.operators.Normalization]]
  * builds the projection): run_id bigint, idx int, p1 bigint,
  * p2 bigint, members array<bigint>, mprops (merge-dependent type),
  * mh bigint. Output: seg_run bigint, seg_no bigint,
  * members array<bigint>, props (= mprops type), pts array<bigint>.
  */
case class NormalizeSegmentsPlan(
    child: LogicalPlan,
    // consumed child attrs as an expression member (keeps
    // ColumnPruning from emptying the child under a node whose own
    // output is entirely producedAttributes — same guard as
    // TileStreamEncodePlan)
    inputOrder: Seq[Attribute],
    // stable output attrs (same exprIds across transformUp copies)
    output: Seq[Attribute])
  extends UnaryNode {
  override def producedAttributes
      : org.apache.spark.sql.catalyst.expressions.AttributeSet = outputSet
  override protected def withNewChildInternal(
      newChild: LogicalPlan): NormalizeSegmentsPlan = copy(child = newChild)
}

object NormalizeSegmentsPlan {
  /** Builder: output props type follows the child's mprops column. */
  def apply(child: LogicalPlan,
      inputOrder: Seq[Attribute]): NormalizeSegmentsPlan =
    new NormalizeSegmentsPlan(child, inputOrder,
      outputAttrs(inputOrder(5).dataType))

  private[plans] def outputAttrs(propsType: DataType): Seq[Attribute] = Seq(
    AttributeReference("seg_run", LongType, nullable = false)(),
    AttributeReference("seg_no", LongType, nullable = false)(),
    AttributeReference("members", ArrayType(LongType, containsNull = false),
      nullable = false)(),
    AttributeReference("props", propsType, nullable = true)(),
    AttributeReference("pts", ArrayType(LongType, containsNull = false),
      nullable = false)())
}

/** Plans [[NormalizeSegmentsPlan]] as [[NormalizeSegmentsExec]];
  * injected through [[graft.GraftExtensions]] beside the tile-encode
  * strategy.
  */
object NormalizeSegmentsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: NormalizeSegmentsPlan =>
      NormalizeSegmentsExec(p.output, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

case class NormalizeSegmentsExec(output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def producedAttributes
      : org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  // complete runs per partition: cluster on run_id only
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(child.output.take(1)) :: Nil

  // (run_id, idx): the window shape's partitionBy(run_id).orderBy(idx)
  // as one spillable local sort
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(child.output.take(2).map(SortOrder(_, Ascending)))

  override protected def withNewChildInternal(
      newChild: SparkPlan): NormalizeSegmentsExec = copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val outAttrs = output
    val propsType = child.output(5).dataType
    child.execute().mapPartitions({ iter =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val row = new GenericInternalRow(outAttrs.length)

      new Iterator[InternalRow] {
        // run cursor
        private var haveRun = false
        private var curRun = 0L
        private var prevMh = 0L
        private var segNo = 0L
        // open OWNED stretch (unowned stretches advance segNo only);
        // members/props are COPIES (the sorter reuses row buffers)
        private var openOwned = false
        private var segMembers: ArrayData = _
        private var segProps: Any = _
        private val pts = new scala.collection.mutable.ArrayBuffer[Long]()
        private var lastP2 = 0L
        private var pendingOut: InternalRow = _

        private def emitSegment(): Unit = {
          val arr = new Array[Long](pts.length + 1)
          var i = 0
          while (i < pts.length) { arr(i) = pts(i); i += 1 }
          arr(pts.length) = lastP2
          row.setLong(0, curRun)
          row.setLong(1, segNo)
          row.update(2, segMembers)
          row.update(3, segProps)
          row.update(4, new GenericArrayData(arr))
          pendingOut = proj(row).copy()
          openOwned = false
          segMembers = null
          segProps = null
          pts.clear()
        }

        private def consume(r: InternalRow): Unit = {
          val rRun = r.getLong(0)
          val rMh = r.getLong(6)
          val newRun = !haveRun || rRun != curRun
          val chg = newRun || rMh != prevMh
          // close the open stretch BEFORE the cursor moves — emit uses
          // curRun/segNo of the stretch being closed
          if (chg && openOwned) emitSegment()
          if (newRun) {
            haveRun = true
            segNo = 0L
          }
          curRun = rRun
          prevMh = rMh
          if (chg) {
            segNo += 1L
            val members = r.getArray(4)
            if (members.getLong(0) == rRun) {
              openOwned = true
              segMembers = members.copy()
              segProps = InternalRow.copyValue(r.get(5, propsType))
            }
          }
          if (openOwned) {
            pts += r.getLong(2)
            lastP2 = r.getLong(3)
          }
        }

        override def hasNext: Boolean = {
          while (pendingOut == null && iter.hasNext) consume(iter.next())
          if (pendingOut == null && openOwned) emitSegment() // final flush
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
