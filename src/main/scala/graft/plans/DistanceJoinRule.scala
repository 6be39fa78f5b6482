package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

import graft.functions.STDWithinExpr
import graft.operators.GridJoin

/** Plans `JOIN ... ON graft_st_dwithin(l.lon, l.lat, r.lon, r.lat, R)`
  * as a grid-cell equi-join instead of a cartesian product.
  *
  * The reference delegates its distance joins to PostGIS
  * (`ST_DWithin`, /root/reference/src/clustering/database/
  * PostgreSQLClusteringDatabase.ts:688-694) where a GIST index prunes
  * candidates. Spark has no spatial index; the engine's equivalent is
  * the grid join every proximity operator composes
  * ([[graft.operators.GridJoin]]): explode one side into its
  * neighbourhood of ~radius-sized cells, equi-join on the cell id,
  * refine with exact haversine. This rule makes that join a PLANNER
  * capability, so pure-SQL users (and any DataFrame join that just
  * states the predicate) get the scalable plan declaratively:
  *
  *   - match: inner/cross join whose condition conjunctively contains
  *     an unrefined [[STDWithinExpr]] with a foldable positive radius,
  *     one point per side (either orientation);
  *   - rewrite: Generate(Explode(packed cell ids)) under the point-1
  *     side, a projected cell id on the point-2 side, join condition =
  *     cell equality AND the refined predicate AND the remaining
  *     conjuncts, then a Project back to the original output.
  *
  * Each right row lands in exactly one cell and left rows explode to
  * DISTINCT cells, so a qualifying pair joins exactly once — no
  * post-dedup. Cell size is radius/[[MetersPerCellDegree]] degrees,
  * and the walk is the grid join's: ±[[GridJoin.latHalfWidth]] rows
  * (1 at this cell size) by ±[[GridJoin.lonHalfWidth]] columns, which
  * is 1 below about 74.98 deg (the classic 3x3 explode) and widens
  * toward the poles. Longitude wraparound at the antimeridian is out
  * of contract. When the rule cannot apply (non-literal radius,
  * predicate under OR, both points from one side) the expression
  * still evaluates correctly — just without the rewrite.
  */
object DistanceJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  /** radius meters -> cell degrees divisor. */
  val MetersPerCellDegree = 28800.0

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, jt, Some(cond), _)
        if (jt == Inner || jt == Cross) && j.resolved =>
      val conjuncts = splitConjunctivePredicates(cond)
      conjuncts.iterator.flatMap {
        case st: STDWithinExpr if !st.refined => orient(st, left, right)
        case _ => None
      }.nextOption() match {
        case Some((st, swapped)) =>
          rewrite(j, st, swapped, conjuncts.filterNot(_ eq st))
        case None => j
      }
  }

  /** Some(marker -> swapped) when the radius folds to a positive
    * literal and each point reads from exactly one join side.
    */
  private def orient(st: STDWithinExpr, left: LogicalPlan,
      right: LogicalPlan): Option[(STDWithinExpr, Boolean)] = {
    def from(es: Seq[Expression], p: LogicalPlan): Boolean =
      es.forall(e => e.deterministic && e.references.subsetOf(p.outputSet))
    val radiusOk = st.radiusM.foldable && {
      val r = st.radiusM.eval(null)
      r != null && r.asInstanceOf[Double] > 0.0
    }
    if (!radiusOk) None
    else if (from(Seq(st.lon1, st.lat1), left) &&
      from(Seq(st.lon2, st.lat2), right)) Some((st, false))
    else if (from(Seq(st.lon2, st.lat2), left) &&
      from(Seq(st.lon1, st.lat1), right)) Some((st, true))
    else None
  }

  private def rewrite(j: Join, st: STDWithinExpr, swapped: Boolean,
      others: Seq[Expression]): LogicalPlan = {
    val radius = st.radiusM.eval(null).asInstanceOf[Double]
    val cellDeg = radius / MetersPerCellDegree
    val (lLon, lLat, rLon, rLat) =
      if (swapped) (st.lon2, st.lat2, st.lon1, st.lat1)
      else (st.lon1, st.lat1, st.lon2, st.lat2)

    def cellOf(ord: Expression): Expression =
      Floor(Divide(ord, Literal(cellDeg)))
    // (cx, cy) -> one long: cx in the high 32 bits, cy's low 32 below.
    // Injective for any |cell| < 2^31 (cellDeg >= 1e-3 deg for radius
    // >= ~29 m keeps |cell| < 4e5; tiny radii still fit: 1 m -> 1e7).
    def pack(cx: Expression, cy: Expression): Expression =
      BitwiseOr(ShiftLeft(cx, Literal(32)),
        BitwiseAnd(cy, Literal(0xFFFFFFFFL)))

    val halfWidth = GridJoin.lonHalfWidth(lLat, radius, cellDeg)
    val dy = GridJoin.latHalfWidth(radius, cellDeg)
    val cx0 = cellOf(lLon)
    val xVar = NamedLambdaVariable("graft_dwithin_cx", LongType,
      nullable = true)
    val yCells = CreateArray((-dy to dy).map(j =>
      pack(xVar, Add(cellOf(lLat), Literal(j)))))
    // Sequence is TimeZoneAwareExpression: resolved only with a zone,
    // even for integral sequences where it is irrelevant
    val xRange = new Sequence(Subtract(cx0, halfWidth),
      Add(cx0, halfWidth), Some(Literal(1L)))
      .withTimeZone(org.apache.spark.sql.internal.SQLConf.get
        .sessionLocalTimeZone)
    val cells = Flatten(ArrayTransform(xRange,
      LambdaFunction(yCells, Seq(xVar))))
    val lCell = AttributeReference("graft_dwithin_cell", LongType)()
    val lGen = Generate(Explode(cells), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(lCell),
      child = j.left)

    val rAlias = Alias(pack(cellOf(rLon), cellOf(rLat)),
      "graft_dwithin_cell_r")()
    val rProj = Project(j.right.output :+ rAlias, j.right)

    val newCond = (EqualTo(lCell, rAlias.toAttribute) +:
      st.copy(refined = true) +: others).reduce(And)
    Project(j.output, Join(lGen, rProj, Inner, Some(newCond), j.hint))
  }
}
