package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions.broadcast

/** Plan pins for the two hottest pipelines: the physical plans of
  * q_ski_normalize and q_pipeline_e2e must stay free of
  * CartesianProduct / non-scalar BroadcastNestedLoopJoin and keep
  * their exchange counts bounded — a future change that silently
  * introduces an extra shuffle or degrades a join to a nested loop
  * fails here, not in a bench regression three rounds later.
  *
  * The BNLJ ban exempts the scalar-summary pattern (a crossJoin of
  * two single-row aggregates, which Spark always plans as a 1×1-row
  * BroadcastNestedLoopJoin): ~20 queries deliberately fold their
  * one-row summary this way (e.g. SkiQueries.scala q_ski_normalize's
  * `dup.agg(...).crossJoin(rendered.agg(...))`), and a nested loop
  * over two single rows is not a plan hazard. A BNLJ is flagged only
  * when at least one side is NOT a global (grouping-free) aggregate —
  * the genuinely quadratic shape the pin exists to catch; the
  * negative test below proves the pin still fires on one.
  *
  * Exchange budgets are asserted as ceilings (measured count at pin
  * time, see each test), not exact equalities, so plan improvements
  * don't trip them while regressions do. localCheckpoint/scaffold
  * boundaries mean the visible plan covers the final-phase DAG — the
  * phases the round-11 audit walked.
  */
class PlanPinSpec extends SparkSpec {


  /** True when the subtree is a global single-row aggregate: its
    * topmost aggregate node (looking through stages/exchanges/projects)
    * has no grouping expressions.
    */
  private def scalarAggSide(p: SparkPlan): Boolean =
    planNodes(p).collectFirst { case a: BaseAggregateExec =>
      a.groupingExpressions.isEmpty
    }.getOrElse(false)

  private[graft] def audit(df: DataFrame): (Int, String) = {
    // Execute THIS QueryExecution (not a derived count() one) so the
    // AdaptiveSparkPlanExec instance we inspect settles on its final
    // adaptive plan before the assertions read it.
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan
    val all = planNodes(plan)
    val s = plan.toString
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]),
      s"cartesian product leaked into:\n$s")
    val badBnlj = all.collect {
      case j: BroadcastNestedLoopJoinExec
          if !(scalarAggSide(j.left) && scalarAggSide(j.right)) => j
    }
    assert(badBnlj.isEmpty,
      s"non-scalar nested-loop join leaked into:\n$s")
    // count exchanges by INSTANCE: planNodes() descends into
    // ReusedExchangeExec.child so the ban scans see reused subtrees,
    // but a shared shuffle must count once — exchange reuse is a plan
    // improvement, not a regression, and structural equality would
    // also merge genuinely distinct but identical-shaped exchanges
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[ShuffleExchangeExec, java.lang.Boolean]())
    all.foreach {
      case e: ShuffleExchangeExec => seen.add(e)
      case _ =>
    }
    (seen.size, s)
  }

  test("q_ski_normalize plans lean: no cartesian/BNLJ, bounded exchanges") {
    val df = SparkEntry.queries("q_ski_normalize")(spark, sf)
    val (exchanges, plan) = audit(df)
    // pinned at measured count 6 (one edge exchange + the membership/
    // props/occurrence rollups and the final orderBy range exchange)
    assert(exchanges <= 6,
      s"q_ski_normalize grew to $exchanges exchanges:\n$plan")
  }

  test("q_pipeline_e2e plans lean: no cartesian/BNLJ, bounded exchanges") {
    val df = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val (exchanges, plan) = audit(df)
    assert(exchanges <= 10,
      s"q_pipeline_e2e grew to $exchanges exchanges:\n$plan")
  }

  test("q_tiles_mvt_bytes plans lean: no cartesian/BNLJ, bounded exchanges") {
    val df = SparkEntry.queries("q_tiles_mvt_bytes")(spark, sf)
    val (exchanges, plan) = audit(df)
    // The visible plan starts at featureTiles' lazy localCheckpoint
    // (a LogicalRDD scan), so this pin covers the post-checkpoint DAG
    // only: the two density-cap windows over the z<=8 slice, the
    // single (z,tx,ty) tile collect, and the output orderBy range
    // exchange. A second shuffle of encoded frames or a cap window
    // leaking onto the z>=9 bulk fails here; the feature-synthesis
    // subtree upstream of the checkpoint is NOT audited by this test
    // (the formatted runs it starts from are a Scaffold artifact, whose
    // build stages the formatter-stage test below compiles).
    assert(exchanges <= 4,
      s"q_tiles_mvt_bytes grew to $exchanges exchanges:\n$plan")
  }

  test("q_tiles_mvt_bytes evaluates the prep kernel exactly once") {
    // Round 14's plan evaluated mvtprepexpr in BOTH the Filter and the
    // Project of the same stage (predicate pushdown inlined the alias)
    // — a 2x kernel walk per surviving feature. The generator-shaped
    // rewrite (explode of a 0/1-element array) must leave exactly ONE
    // occurrence in the settled plan, inside a Generate; a future
    // change that reintroduces a filter on a kernel-derived column
    // (anywhere downstream — pushdown carries it all the way back)
    // fails here.
    val df = SparkEntry.queries("q_tiles_mvt_bytes")(spark, sf)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan
    // count per NODE over the settled final plan (planNodes descends
    // AQE wrappers and stages; AdaptiveSparkPlanExec.toString would
    // print the initial plan too and double-count)
    val hits = planNodes(plan).flatMap { n =>
      val inNode = n.expressions.map(
        _.collect { case e: graft.functions.MvtPrepExpr => e }.size).sum
      if (inNode > 0) Some((n.nodeName, inNode)) else None
    }
    assert(hits.map(_._2).sum == 1 && hits.head._1 == "Generate",
      s"expected exactly one mvtprepexpr, inside a Generate; got $hits:\n$plan")
  }

  test("q_tiles_mvt_bytes holds its exchange budget at 10x the fixture") {
    // AQE settles plans from runtime sizes, so a shape that is lean at
    // sf0.001 can still regress at scale (a cap window leaking onto
    // the z>=9 bulk would only show where that slice is big) — pin the
    // same budget one decade up
    val df = SparkEntry.queries("q_tiles_mvt_bytes")(
      spark, "/root/testdata/sf0.01")
    val (exchanges, plan) = audit(df)
    assert(exchanges <= 4,
      s"q_tiles_mvt_bytes at sf0.01 grew to $exchanges exchanges:\n$plan")
  }

  test("the formatter stages compile, every method under HotSpot's huge-method limit") {
    // A whole-stage method over 8000 bytes of bytecode is never JIT
    // compiled, and one over 64 KB does not compile at all: Spark then
    // runs the stage interpreted, re-trying the compile in every
    // session. q_ski_format_runs and q_ski_format_lifts scan their
    // formatter's scaffold artifact, so their stages are the frames the
    // artifact is built from; the area union formats inline.
    import graft.operators.{Formatters, SkiFeatures, SkiQueries}
    val frames = Seq(
      "q_ski_format_runs" -> Formatters.formatRuns(SkiFeatures.synthesize(spark, sf)),
      "q_ski_format_lifts" ->
        Formatters.formatLifts(SkiQueries.liftFeatures(spark, sf)),
      "q_ski_area_format_union" ->
        SparkEntry.queries("q_ski_area_format_union")(spark, sf))
    for ((name, df) <- frames) {
      df.queryExecution.toRdd.count()
      val stages = planNodes(df.queryExecution.executedPlan)
        .collect { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty, s"$name has no whole-stage codegen")
      for (w <- stages) {
        val id = s"$name stage ${w.codegenStageId}"
        val stats =
          try CodeGenerator.compile(w.doCodeGen()._2)._2
          catch { case e: Exception =>
            fail(s"$id does not compile: ${e.getMessage.take(500)}") }
        assert(stats.maxMethodCodeSize <= 8000,
          s"$id has a ${stats.maxMethodCodeSize}-byte method:\n${w.child}")
      }
    }
  }

  test("audit still fires on a genuine non-scalar BNLJ and a cartesian") {
    import spark.implicits._
    val l = spark.range(50).toDF("a")
    val r = spark.range(50).toDF("b")
    val bnlj = l.join(broadcast(r), $"a" < $"b")
    val e1 = intercept[org.scalatest.exceptions.TestFailedException] {
      audit(bnlj)
    }
    assert(e1.getMessage.contains("nested-loop"))
    // force the true CartesianProductExec shape (with broadcast
    // allowed Spark plans a small cross join as a BNLJ instead)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cart = l.crossJoin(r)
      val e2 = intercept[org.scalatest.exceptions.TestFailedException] {
        audit(cart)
      }
      assert(e2.getMessage.contains("cartesian"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("audit accepts the scalar-summary cross join pattern") {
    import org.apache.spark.sql.functions._
    val l = spark.range(100).agg(count(lit(1)).as("n"))
    val r = spark.range(100).agg(sum(col("id")).as("s"))
    audit(l.crossJoin(r)) // must NOT throw: both sides single-row aggs
  }
}
