package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.{BinaryType, DoubleType, IntegerType, LongType, StringType}
import graft.functions.{AudioMetaExpr, GeoFunctions, GeoKernels, GpkgGeomExpr,
  GpkgKernel, GramHashExpr, HilbertExpr, ImageDimsExpr, ImageKernels,
  MinHashSigExpr, MvtDecodeExpr, MvtDecodeKernel, RollingMinExpr,
  STDWithinExpr, ShinglesExpr, SimHash32Expr, SketchKernels, VectorFunctions,
  VectorKernels, VideoMetaExpr}
import graft.plans.{AsofJoinRule, AsofJoinStrategy, DistanceJoinRule,
  IntervalJoinRule, NormalizeSegmentsStrategy, TileStreamEncodeStrategy}

/** SQL surface for the library's native Catalyst expressions.
  *
  * Two entry points, same registrations:
  *
  *  - `spark.sql.extensions=graft.GraftExtensions` at session build
  *    time (the standard Spark extension hook — works from
  *    spark-submit / spark-sql / thrift server with the library jar on
  *    the classpath, no Scala code at all);
  *  - [[GraftExtensions.register]] on an already-running session
  *    (notebooks, tests).
  *
  * Both make the codegen kernels available to pure-SQL users:
  * `graft_line_length_m(coords)` (geodesic polyline meters over
  * `array<array<double>>`) and `graft_vec_dot(a, b)` (dense
  * double-vector dot product). The functions call the SAME DataFrame
  * API entries (the kernels' `StaticInvoke` calls), so SQL callers
  * get whole-stage codegen, not a UDF shim.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptions.foreach(ext.injectFunction)
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
  }
}

object GraftExtensions {

  /** The optimizer rules both entry points install, in order. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    // Distance-join planning: rewrites JOIN ... ON graft_st_dwithin(..)
    // from a cartesian product into the grid-cell equi-join + refine.
    DistanceJoinRule,
    // Range-join planning: JOIN ... ON graft_in_range(t, lo, hi, bin)
    // becomes a binned equi-join instead of a nested loop.
    IntervalJoinRule,
    // As-of planning: JOIN ... ON keys AND graft_asof_match(lt, rt)
    // lifts to the native AsofJoinPlan, which AsofJoinStrategy then
    // plans as the co-partitioned merge (or broadcast) exec. The
    // DataFrame API (graft.operators.AsofJoin.join) builds the node
    // directly.
    AsofJoinRule)

  /** The planner strategies both entry points install, in order. */
  val strategies: Seq[SparkStrategy] = Seq(
    AsofJoinStrategy,
    // Sorted-stream whole-tile MVT encode (aggregation-free tile
    // build): plans TileStreamEncodePlan as the streaming exec.
    TileStreamEncodeStrategy,
    // Sorted-stream run re-segmentation (aggregation-free N2):
    // plans NormalizeSegmentsPlan as the streaming exec.
    NormalizeSegmentsStrategy)

  private def oneArg(name: String, f: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a) => f(a)
    case args => throw new IllegalArgumentException(
      s"$name expects 1 argument, got ${args.size}")
  }

  private def twoArg(name: String, f: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, b) => f(a, b)
    case args => throw new IllegalArgumentException(
      s"$name expects 2 arguments, got ${args.size}")
  }

  /** A kernel's DataFrame API entry as an expression builder, so SQL
    * and DSL callers build the same `StaticInvoke`.
    */
  private def dsl1(f: Column => Column): Expression => Expression =
    e => expression(f(column(e)))

  private def dsl2(f: (Column, Column) => Column)
      : (Expression, Expression) => Expression =
    (a, b) => expression(f(column(a), column(b)))

  /** (expr, INT LITERAL) builders — the sketch kernels take their
    * width/count as a construction-time parameter, so the SQL argument
    * must be a foldable integer.
    */
  private def withIntArg(name: String, f: (Column, Int) => Column)
      : Seq[Expression] => Expression = {
    case Seq(a, b) if b.foldable &&
        (b.dataType == IntegerType || b.dataType == LongType) =>
      val v = b.eval() match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"$name expects a literal INT second argument, got $other")
      }
      expression(f(column(a), v))
    case args => throw new IllegalArgumentException(
      s"$name expects (expr, literal int), got ${args.size} args" +
        (if (args.size == 2) s" (2nd: ${args(1)})" else ""))
  }

  // The portable md5-based hashes and the Morton interleave are
  // compositions of Spark's own codegen expressions (Md5 / Conv /
  // Substring / shift-mask bitwise chain) — registering the SAME
  // composition the DataFrame helpers build keeps SQL and DSL callers
  // bit-identical with zero new kernel code.
  private def hashN(hexChars: Int, e: Expression): Expression =
    Cast(Conv(Substring(Md5(Cast(Cast(e, StringType), BinaryType)),
      Literal(1), Literal(hexChars)), Literal(16), Literal(10)), LongType)

  private def spread16(e: Expression): Expression = {
    def step(x: Expression, sh: Int, mask: Long): Expression =
      BitwiseAnd(BitwiseOr(x, ShiftLeft(x, Literal(sh))), Literal(mask))
    step(step(step(step(Cast(e, LongType),
      8, 0x00FF00FFL), 4, 0x0F0F0F0FL), 2, 0x33333333L), 1, 0x55555555L)
  }

  private def mortonZ(x: Expression, y: Expression): Expression =
    BitwiseOr(spread16(x), ShiftLeft(spread16(y), Literal(1)))

  /** (identifier, info, builder) triples in the shape
    * `SparkSessionExtensions.injectFunction` and
    * `FunctionRegistry.registerFunction` both accept.
    */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_line_length_m"),
      new ExpressionInfo(GeoKernels.getClass.getName,
        "graft_line_length_m"),
      oneArg("graft_line_length_m", dsl1(GeoFunctions.lineLengthM))),
    (FunctionIdentifier("graft_vec_dot"),
      new ExpressionInfo(VectorKernels.getClass.getName, "graft_vec_dot"),
      twoArg("graft_vec_dot", dsl2(VectorFunctions.dot))),
    (FunctionIdentifier("graft_hash32"),
      new ExpressionInfo(classOf[Md5].getName, "graft_hash32"),
      oneArg("graft_hash32", hashN(8, _))),
    (FunctionIdentifier("graft_hash64"),
      new ExpressionInfo(classOf[Md5].getName, "graft_hash64"),
      oneArg("graft_hash64", hashN(15, _))),
    (FunctionIdentifier("graft_morton_z"),
      new ExpressionInfo(classOf[BitwiseOr].getName, "graft_morton_z"),
      twoArg("graft_morton_z", mortonZ)),
    (FunctionIdentifier("graft_hilbert_d"),
      new ExpressionInfo(HilbertExpr.getClass.getName, "graft_hilbert_d"),
      twoArg("graft_hilbert_d", dsl2(HilbertExpr.hilbertD))),
    (FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(SketchKernels.getClass.getName, "graft_shingles"),
      withIntArg("graft_shingles", ShinglesExpr.shingles)),
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(SketchKernels.getClass.getName,
        "graft_minhash_sig"),
      withIntArg("graft_minhash_sig", MinHashSigExpr.minhashSig)),
    (FunctionIdentifier("graft_simhash32"),
      new ExpressionInfo(SketchKernels.getClass.getName,
        "graft_simhash32"),
      oneArg("graft_simhash32", dsl1(SimHash32Expr.simhash32))),
    (FunctionIdentifier("graft_gram_hashes"),
      new ExpressionInfo(SketchKernels.getClass.getName,
        "graft_gram_hashes"),
      withIntArg("graft_gram_hashes", GramHashExpr.gramHashes)),
    (FunctionIdentifier("graft_rolling_min"),
      new ExpressionInfo(SketchKernels.getClass.getName,
        "graft_rolling_min"),
      withIntArg("graft_rolling_min", RollingMinExpr.rollingMin)),
    (FunctionIdentifier("graft_pii_redact"),
      new ExpressionInfo(classOf[RegExpReplace].getName,
        "graft_pii_redact"),
      oneArg("graft_pii_redact", { e =>
        // the ordered email → phone → id scrub, as the same nested
        // codegen RegExpReplace chain Pii.redact builds (order is part
        // of the contract: later counts/patterns never see digits
        // inside earlier matches)
        def rr(x: Expression, re: String, rep: String): Expression =
          RegExpReplace(x, Literal(re), Literal(rep))
        rr(rr(rr(Cast(e, StringType),
          graft.operators.Pii.EmailRe, "[EMAIL]"),
          graft.operators.Pii.PhoneRe, "[PHONE]"),
          graft.operators.Pii.IdRe, "[ID]")
      })),
    // the real media-container header decoders — dashboards can audit
    // a binary column from pure SQL
    (FunctionIdentifier("graft_image_dims"),
      new ExpressionInfo(ImageKernels.getClass.getName,
        "graft_image_dims"),
      oneArg("graft_image_dims", dsl1(ImageDimsExpr.imageDims))),
    (FunctionIdentifier("graft_audio_meta"),
      new ExpressionInfo(ImageKernels.getClass.getName,
        "graft_audio_meta"),
      oneArg("graft_audio_meta", dsl1(AudioMetaExpr.audioMeta))),
    (FunctionIdentifier("graft_video_meta"),
      new ExpressionInfo(ImageKernels.getClass.getName,
        "graft_video_meta"),
      oneArg("graft_video_meta", dsl1(VideoMetaExpr.videoMeta))),
    // tile-serving audit surface: decode an MVT blob column back to
    // per-layer (layer, n_features, n_parts, n_points, coord_checksum)
    // rows from pure SQL — the same decoder q_tiles_mvt_bytes gates on
    (FunctionIdentifier("graft_mvt_decode"),
      new ExpressionInfo(MvtDecodeKernel.getClass.getName,
        "graft_mvt_decode"),
      oneArg("graft_mvt_decode", dsl1(MvtDecodeExpr.mvtDecode))),
    // GeoPackage geometry BLOB builder (GP header + WKB) for SQL
    // writers: (wkb_type, parts array<array<struct<lon,lat>>>)
    (FunctionIdentifier("graft_gpkg_geom"),
      new ExpressionInfo(GpkgKernel.getClass.getName, "graft_gpkg_geom"),
      twoArg("graft_gpkg_geom", dsl2(GpkgGeomExpr.gpkgGeom))),
    (FunctionIdentifier("graft_asof_match"),
      new ExpressionInfo(
        classOf[graft.functions.AsofMatchExpr].getName, "graft_asof_match"),
      { args =>
        if (args.size < 2 || args.size > 3)
          throw new IllegalArgumentException(
            "graft_asof_match expects (leftTime, rightTime[, " +
              s"toleranceMicros]), got ${args.size} arguments")
        graft.functions.AsofMatchExpr(args(0), args(1),
          args.drop(2).headOption)
      }),
    (FunctionIdentifier("graft_in_range"),
      new ExpressionInfo(
        classOf[graft.functions.InRangeExpr].getName, "graft_in_range"),
      { args =>
        if (args.size != 4) throw new IllegalArgumentException(
          s"graft_in_range expects (t, lo, hi, bin), got ${args.size}" +
            " arguments")
        val l = args.map(a =>
          if (a.dataType == LongType) a else Cast(a, LongType))
        graft.functions.InRangeExpr(l(0), l(1), l(2), l(3))
      }),
    (FunctionIdentifier("graft_st_dwithin"),
      new ExpressionInfo(classOf[STDWithinExpr].getName, "graft_st_dwithin"),
      { args =>
        if (args.size != 5) throw new IllegalArgumentException(
          s"graft_st_dwithin expects (lon1, lat1, lon2, lat2, radiusM)," +
            s" got ${args.size} arguments")
        val d = args.map(a =>
          if (a.dataType == DoubleType) a else Cast(a, DoubleType))
        STDWithinExpr(d(0), d(1), d(2), d(3), d(4))
      }))

  /** Register the functions + the distance-join rule on a live session
    * (idempotent). The rule lands in `experimental.extraOptimizations`
    * here — the post-analysis hook available after session build; the
    * config-time path (`spark.sql.extensions`) injects it into the
    * main operator-optimization batch instead.
    */
  def register(spark: SparkSession): Unit = {
    descriptions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(id, info, builder)
    }
    registerPlanning(spark)
  }

  /** Idempotent planner-hook registration (rules + strategy),
    * SYNCHRONIZED on the session's ExperimentalMethods: the
    * read-modify-write of `extraOptimizations`/`extraStrategies` is a
    * lost-update race under concurrent queries (one thread's append
    * can clobber another's, leaving e.g. AsofJoinPlan unplannable for
    * the rest of the session), so every mutation in this library goes
    * through this one lock.
    */
  def registerPlanning(spark: SparkSession): Unit =
    spark.experimental.synchronized {
      val exp = spark.experimental
      exp.extraOptimizations ++= rules.filterNot(exp.extraOptimizations.contains)
      exp.extraStrategies ++= strategies.filterNot(exp.extraStrategies.contains)
    }
}
