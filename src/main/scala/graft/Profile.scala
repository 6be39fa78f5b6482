package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import scala.annotation.tailrec
import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import graft.operators._

/** The one profiling main: times and/or dumps the plan of any
  * registered query or named stage frame ("phase"), on the session
  * [[GraftSession]] builds for Bench and Verify.
  *
  * {{{
  * sbt "runMain graft.Profile <sfDir> <name|prefix>... [--plan <dir|file.md>] [--runs N] [--conf k=v]..."
  * }}}
  *
  *  - Names select from `SparkEntry.queries` plus [[phases]]: an exact
  *    name, a prefix (`normalize.` selects every normalize phase in
  *    stage order), or `headlines` (the bench headline set).
  *  - `--runs N` (default 3, or 0 with `--plan`): one warm-up, then N
  *    timed noop-sink runs, each printing wall and process-CPU seconds,
  *    then the median wall. Every run rebuilds its frame, so a stage
  *    frame re-pays its upstream — read stage INCREMENTS.
  *  - `--plan <dir>` writes `<dir>/<name>.txt`: the formatted physical
  *    plan under a conf header. `--plan <file>.md` instead executes each
  *    name once and writes its settled AQE plan plus exchange / codegen
  *    / scan counts (the PLANS.md audit).
  *  - `--conf k=v` overlays a session conf (e.g.
  *    `spark.sql.autoBroadcastJoinThreshold=-1` to see a plan without
  *    broadcast joins).
  */
object Profile {
  type Frame = (SparkSession, String) => DataFrame

  private def ck(df: DataFrame): DataFrame = df.localCheckpoint(false)

  private def normSplit(s: SparkSession, d: String): DataFrame =
    ck(Normalization.splitSharedArcs(SkiQueries.normalizeInput(s, d)))

  private def corpusSplit(s: SparkSession, d: String): DataFrame =
    ck(CorpusProfile.prepSplit(ck(CorpusProfile.prepScored(s, d))))

  /** Stage frames of the multi-stage queries, built from the same defs
    * the queries compose. A lazy checkpoint (`ck`) stands where the
    * query materializes, or where a stage is isolated from its upstream.
    */
  val phases: ListMap[String, Frame] = ListMap(
    // the formatters behind the run, lift and spot scaffold artifacts
    // (built once per process, so the queries time only the scan)
    "format.runs" -> ((s, d) =>
      Formatters.formatRuns(SkiFeatures.synthesize(s, d))),
    "format.lifts" -> ((s, d) =>
      Formatters.formatLifts(SkiQueries.liftFeatures(s, d))),
    "format.spots" -> ((s, d) => SkiQueries.spotFrame(s, d)),
    // tile pipeline: features → fan-out → cap → prep → encode
    "mvt.features" -> ((s, d) => MvtTiles.features(s, d)),
    "mvt.fanout" -> ((s, d) =>
      MvtTiles.tilesOf(ck(Tables.fanout(MvtTiles.features(s, d))))),
    "mvt.capped" -> ((s, d) => MvtTiles.capped(s, d)),
    "mvt.prepped" -> ((s, d) => MvtTiles.prepped(s, d)),
    "mvt.encode" -> ((s, d) => MvtTiles.tileBytes(s, d)),
    "mvt.encode_stats" -> ((s, d) =>
      MvtTiles.encodeStatsOf(MvtTiles.prepped(s, d))),
    // q_ski_normalize: N1 edges → N2 arc exchange / segmentation /
    // split → N3 deg-2 pairs / components / combine
    "normalize.input" -> ((s, d) => SkiQueries.normalizeInput(s, d)),
    "normalize.edges" -> ((s, d) =>
      Normalization.edgesOf(SkiQueries.normalizeInput(s, d))),
    "normalize.arc_exchange" -> ((s, d) => Normalization.arcMembers(
      Normalization.edgesOf(SkiQueries.normalizeInput(s, d)))),
    // the split shape the full query hides behind combineSegments'
    // checkpoint
    "normalize.split" -> ((s, d) =>
      Normalization.splitSharedArcs(SkiQueries.normalizeInput(s, d))),
    "normalize.deg2_pairs" -> ((s, d) =>
      Normalization.deg2Pairs(normSplit(s, d))),
    "normalize.cc_labels" -> ((s, d) => Clustering.minLabelComponents(
      Normalization.deg2Pairs(normSplit(s, d)))),
    "normalize.combine" -> ((s, d) =>
      Normalization.combineSegments(normSplit(s, d))),
    // q_pipeline_e2e: normalized scaffold → positions → elevation
    // cache → z profile → enriched → cluster
    "pipeline.normalized" -> ((s, d) => PipelineE2E.normalized(s, d)),
    "pipeline.pts" -> ((s, d) =>
      PipelineE2E.pts(PipelineE2E.normalized(s, d))),
    "pipeline.cache_aside" -> ((s, d) => PipelineE2E.elevationCache(s,
      PipelineE2E.pts(PipelineE2E.normalized(s, d)))),
    "pipeline.seg_z" -> ((s, d) =>
      PipelineE2E.segZ(s, PipelineE2E.normalized(s, d))),
    // the enrichment frame the full query hides behind its checkpoint
    "pipeline.enrich" -> ((s, d) => PipelineE2E.enriched(s, d)),
    "pipeline.cluster" -> ((s, d) =>
      PipelineE2E.assign(s, d, ck(PipelineE2E.enriched(s, d)))),
    // q_corpus_prep: scored frame (its first checkpoint) → dedup+split
    // → test grams → contaminated train docs
    "corpus_prep.scored" -> ((s, d) => CorpusProfile.prepScored(s, d)),
    "corpus_prep.split" -> ((s, d) =>
      CorpusProfile.prepSplit(ck(CorpusProfile.prepScored(s, d)))),
    "corpus_prep.test_grams" -> ((s, d) => CorpusProfile.prepTestGrams(
      CorpusProfile.prepGrams(corpusSplit(s, d)))),
    "corpus_prep.contaminated" -> ((s, d) => CorpusProfile.prepContaminated(
      CorpusProfile.prepGrams(corpusSplit(s, d)))))

  /** Every selectable name, queries first, in registration order. */
  private def entries: Seq[(String, Frame)] =
    SparkEntry.allSpecs.map(q => q.name -> q.fn) ++ phases

  /** Resolves each name to its entries (exact, else by prefix); an
    * unknown name fails, listing the known ones.
    */
  def select(names: Seq[String]): Seq[(String, Frame)] = {
    val all = entries
    names.flatMap { n =>
      val hits =
        if (n == "headlines") SparkEntry.headlines.map(q => q.name -> q.fn)
        else all.find(_._1 == n).map(Seq(_))
          .getOrElse(all.filter(_._1.startsWith(n)))
      if (hits.isEmpty) throw new IllegalArgumentException(
        s"unknown query or phase '$n'; known: headlines, " +
          all.map(_._1).mkString(", "))
      hits
    }.distinctBy(_._1)
  }

  final case class Opts(sfDir: String, names: Seq[String] = Nil,
      plan: Option[String] = None, runs: Option[Int] = None,
      conf: Seq[(String, String)] = Nil)

  private val Usage = "usage: graft.Profile <sfDir> <name|prefix>... " +
    "[--plan <dir|file.md>] [--runs N] [--conf k=v]..."

  def parse(args: Seq[String]): Opts = {
    @tailrec def go(rest: List[String], o: Opts): Opts = rest match {
      case "--plan" :: p :: t => go(t, o.copy(plan = Some(p)))
      case "--runs" :: n :: t => go(t, o.copy(runs = Some(n.toInt)))
      case "--conf" :: kv :: t => kv.split("=", 2) match {
        case Array(k, v) => go(t, o.copy(conf = o.conf :+ (k.trim -> v.trim)))
        case _ => throw new IllegalArgumentException(s"--conf wants k=v: $kv")
      }
      case f :: _ if f.startsWith("--") =>
        throw new IllegalArgumentException(s"bad option $f; $Usage")
      case n :: t => go(t, o.copy(names = o.names :+ n))
      case Nil => o
    }
    val o = args.toList match {
      case sf :: rest => go(rest, Opts(sf))
      case Nil => Opts("")
    }
    require(o.names.nonEmpty, Usage)
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    select(o.names) // fail on an unknown name before Spark starts
    val b = GraftSession.builder("graft-profile", o.sfDir)
    o.conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, o) finally spark.stop()
  }

  def run(spark: SparkSession, o: Opts): Unit = {
    val picked = select(o.names)
    o.plan.foreach { p =>
      if (p.endsWith(".md")) writeAudit(spark, o.sfDir, picked, Paths.get(p))
      else picked.foreach { case (n, fn) =>
        writePlan(spark, o, n, fn(spark, o.sfDir), Paths.get(p))
      }
    }
    val runs = o.runs.getOrElse(if (o.plan.isEmpty) 3 else 0)
    if (runs > 0) picked.foreach { case (n, fn) =>
      time(spark, o.sfDir, n, fn, runs)
    }
  }

  private def writePlan(spark: SparkSession, o: Opts, name: String,
      df: DataFrame, dir: Path): Unit = {
    val keys = (GraftSession.conf("", 1, 0L).keySet - "spark.app.name")
      .toSeq.sorted ++ o.conf.map(_._1)
    val conf = keys.distinct
      .flatMap(k => spark.conf.getOption(k).map(v => s"$k=$v"))
    val hdr = s"# $name — explain(formatted) at ${o.sfDir}\n" +
      s"# conf: ${conf.mkString(", ")}\n\n"
    Files.createDirectories(dir)
    val f = dir.resolve(s"$name.txt")
    Files.write(f, (hdr + df.queryExecution.explainString(FormattedMode))
      .getBytes(UTF_8))
    println(s"[profile] wrote $f")
  }

  /** This process's user+system CPU seconds (USER_HZ = 100). */
  private def procCpuSec(): Double =
    try {
      val self = new String(Files.readAllBytes(Paths.get("/proc/self/stat")),
        UTF_8)
      // comm may hold spaces/parens: utime/stime follow the LAST ')'
      val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
      (rest(11).toLong + rest(12).toLong) / 100.0
    } catch { case NonFatal(_) => -1.0 }

  private def time(spark: SparkSession, sfDir: String, name: String,
      fn: Frame, runs: Int): Unit = {
    def once(label: String): Double = {
      val c0 = procCpuSec(); val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val w = (System.nanoTime() - t0) / 1e9
      println(f"==== $name $label wall=$w%.2f s cpu=${procCpuSec() - c0}%.1f s")
      w
    }
    spark.sparkContext.setJobDescription(s"profile:$name")
    once("warmup")
    val ws = (1 to runs).map { i => System.gc(); once(s"run$i") }
    println(f"==== $name median wall=${Bench.median(ws)}%.2f s")
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val within = p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case r: ReusedExchangeExec => planNodes(r.child)
      case _ => Seq.empty
    }
    Seq(p) ++ within ++ p.children.flatMap(planNodes)
  }

  /** Executes each frame once and writes its SETTLED adaptive plan (AQE
    * final, not the pre-execution placeholder) plus summary counts, so
    * the physical shapes the engine runs with are reviewable in one
    * place and diffable across rounds.
    */
  private def writeAudit(spark: SparkSession, sfDir: String,
      picked: Seq[(String, Frame)], file: Path): Unit = {
    val out = new StringBuilder
    out ++= "# PLANS — settled physical plans of the headline queries\n\n"
    out ++= s"Generated by `graft.Profile` at `$sfDir` " +
      "(AQE-final plans, executed once). Regenerate:\n" +
      "`sbt \"runMain graft.Profile <sfDir> headlines --plan PLANS.md\"`.\n\n"
    out ++= "| query | exchanges | codegen spans | parquet scans |\n"
    out ++= "|---|---|---|---|\n"
    val details = new StringBuilder
    picked.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.queryExecution.toRdd.count()
        val nodes = planNodes(df.queryExecution.executedPlan)
        val exchanges = java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
        nodes.foreach {
          case e: ShuffleExchangeExec => exchanges.add(e)
          case _ =>
        }
        val codegen = nodes.count(_.isInstanceOf[WholeStageCodegenExec])
        val scans = nodes.count(_.nodeName.startsWith("Scan parquet"))
        out ++= s"| $name | ${exchanges.size} | $codegen | $scans |\n"
        details ++= s"\n## $name\n\n```\n"
        details ++= df.queryExecution.executedPlan.toString
          .linesIterator.take(80).mkString("\n")
        details ++= "\n```\n"
      } catch {
        case NonFatal(e) =>
          out ++= s"| $name | ERR | ERR | ERR |\n"
          details ++= s"\n## $name\n\nfailed: ${e.getMessage}\n"
      }
    }
    Files.write(file, (out ++= details).toString.getBytes(UTF_8))
    println(s"[profile] wrote $file for ${picked.size} queries at $sfDir")
  }
}
