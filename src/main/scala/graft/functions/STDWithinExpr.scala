package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType}

/** `graft_st_dwithin(lon1, lat1, lon2, lat2, radiusM)` — true when the
  * two WGS84 points are within `radiusM` meters (haversine, same
  * [[GeoKernels.haversineM]] op order as every other distance in the
  * engine, so thresholds agree bit-for-bit across call sites).
  *
  * This is the declarative surface of the reference's
  * `ST_DWithin(geography, geography, r)` distance join
  * (/root/reference/src/clustering/database/PostgreSQLClusteringDatabase.ts:688-694).
  * On its own it is just a scalar predicate: correct anywhere,
  * including a `JOIN ... ON` clause, where naive planning yields a
  * cartesian product. [[graft.plans.DistanceJoinRule]] recognizes this
  * node in an inner-join condition and rewrites the join into the
  * grid-cell explode + equi-join + refine shape, turning O(n·m) into a
  * shuffle-partitioned equi-join — the planner-level version of
  * [[graft.operators.GridJoin]].
  *
  * `refined` marks the copy the rule leaves behind as the exact
  * refinement filter, so the rewrite does not re-fire on its own
  * output. Both forms evaluate identically.
  *
  * Not a StaticInvoke: [[graft.plans.DistanceJoinRule]] matches on it.
  */
case class STDWithinExpr(
    lon1: Expression,
    lat1: Expression,
    lon2: Expression,
    lat2: Expression,
    radiusM: Expression,
    refined: Boolean = false)
  extends Expression {

  override def children: Seq[Expression] = Seq(lon1, lat1, lon2, lat2, radiusM)
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_st_dwithin expects 5 double arguments, got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "graft_st_dwithin"

  override def eval(input: InternalRow): Any = {
    val a = lon1.eval(input); val b = lat1.eval(input)
    val c = lon2.eval(input); val d = lat2.eval(input)
    val r = radiusM.eval(input)
    if (a == null || b == null || c == null || d == null || r == null) null
    else GeoKernels.haversineM(
      a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double]) <=
      r.asInstanceOf[Double]
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    ev.copy(code = code"""
      ${evals.map(_.code).mkString("\n")}
      boolean ${ev.isNull} = $anyNull;
      boolean ${ev.value} = false;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.GeoKernels.haversineM(
          ${evals(0).value}, ${evals(1).value},
          ${evals(2).value}, ${evals(3).value}) <= ${evals(4).value};
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): STDWithinExpr =
    copy(lon1 = newChildren(0), lat1 = newChildren(1),
      lon2 = newChildren(2), lat2 = newChildren(3),
      radiusM = newChildren(4))
}
