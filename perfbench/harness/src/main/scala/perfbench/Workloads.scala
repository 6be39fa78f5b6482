package perfbench

import java.io.File

import graft.SparkEntry
import graft.functions.GeoFunctions.lineLengthM
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** What one job of a workload wrote: bytes on disk, and for each
  * SQLite container the `(table, root page, rows)` its writer returned.
  */
final case class JobOutput(bytes: Long,
    containers: Map[String, Seq[(String, Int, Long)]])

/** The workload jobs, built only from the program's public entry points.
  *
  * Untraced, a job runs the program's own code: the registered queries
  * and the two file writers, with no materialisation beyond what the
  * program does itself. Traced, the ski chain is instead called layer by
  * layer in pipeline order, and every layer's output is materialised at
  * its boundary, so each span holds exactly its own layer's work; that
  * materialisation is part of the tracing overhead.
  */
object Workloads {

  /** The CSV and MapboxGL sinks of the run layer. */
  private val OutputQueries: Seq[String] = Seq("q_csv_runs", "q_mapbox_runs")

  /** Corpus queries per layer, in the order a data-prep job runs them. */
  private val CorpusQueries: Seq[(String, Seq[String])] = Seq(
    "textanalysis" -> Seq("q_text_token_stats"),
    "dedup" -> Seq("q_dedup_exact", "q_dedup_minhash_lsh"),
    "corpus" -> Seq("q_pack_sequences"),
    "similarity" -> Seq("q_ann_lsh"))

  /** The program's chain query (format, normalise, enrich, cluster,
    * per-area statistics). The traced chain writes the same table, so
    * this query's oracle checks both.
    */
  private val ChainResult = "q_pipeline_e2e"

  /** The program's per-area run/lift statistics (Statistics.fullStatistics). */
  private val StatsQuery = "q_ski_statistics_full"

  /** The span around the closure call itself. Each iteration of the
    * closure runs two Dataset actions: a lazy checkpoint, whose adaptive
    * plan runs at once, and the convergence count.
    */
  val ClosureSpan = "Clustering.transitiveAssign"

  private val CellDeg = 0.01
  private val RadiusM = 500.0

  /** Materialise at a layer boundary of the traced chain and count the
    * rows.
    */
  private def mat(t: Tracer, df: DataFrame): DataFrame = {
    val m = df.localCheckpoint(eager = true)
    t.records(m.count())
    m
  }

  private def qix(c: Column): Column =
    (c * 1e7 + when(c >= 0, 0.5).otherwise(-0.5)).cast("long")

  /** The layer-by-layer copy of `q_pipeline_e2e` for the traced job:
    * tag synthesis -> format -> normalise -> enrich -> cluster -> stats;
    * writes the statistics to `out/q_pipeline_e2e`.
    */
  private def tracedChain(s: SparkSession, d: String, out: File,
      t: Tracer): Long = {
    // cached, not checkpointed: the program's formatter memo reads the
    // synthesis plan, which the cache substitutes
    val synth = t.span("SkiFeatures.synthesize", "skifeatures") {
      val df = SkiFeatures.synthesize(s, d).persist()
      t.records(df.count())
      df
    }
    // fills the program's memo, so the later queries and sinks reuse it
    val fk = t.span("Formatters.formatRuns", "formatters") {
      val r = FormatMemo.runs(s, d)
      t.records(r.count())
      r
    }.filter(col("kept"))
    synth.unpersist()
    t.span("Formatters.formatLifts", "formatters") {
      t.records(FormatMemo.lifts(s, d).count())
    }

    // kept runs plus partial-overlap duplicates with conflicting
    // properties, so re-segmentation and the props lattice both fire
    val props = struct(col("uses"), col("name"), col("ref"),
      col("difficulty"), col("grooming"), col("status"), col("oneway"),
      col("gladed"), col("patrolled"), col("snowmaking"),
      col("snowfarming"), col("tunnel"), col("lit"), col("wikidata_id"))
    val base = fk.select(col("way_id").as("run_id"), props.as("props"),
      col("coords"))
    val dupProps = struct(
      array(lit("skitour")).as("uses"), lit("ZDUP").as("name"),
      lit(null).cast("string").as("ref"), lit("novice").as("difficulty"),
      lit(null).cast("string").as("grooming"),
      lit("operating").as("status"), lit(false).as("oneway"),
      lit(null).cast("boolean").as("gladed"), lit(true).as("patrolled"),
      lit(null).cast("boolean").as("snowmaking"),
      lit(null).cast("boolean").as("snowfarming"),
      lit(null).cast("boolean").as("tunnel"),
      lit(null).cast("boolean").as("lit"), lit("Q1").as("wikidata_id"))
    val overlap = fk.filter(pmod(col("way_id"), lit(10)) === 4)
      .select((col("way_id") + 1000000000L).as("run_id"),
        dupProps.as("props"), slice(col("coords"), 2, 2).as("coords"))
    val key = graft.Tables.fingerprint(s, d, "lineitem") + "|" +
      graft.Tables.fingerprint(s, d, "part")
    val norm = t.span("Normalization.normalizeRuns", "normalization") {
      val n = graft.Scaffold.table(s, "pipeline-norm", key) {
        Normalization.normalizeRuns(base.unionByName(overlap),
          Normalization.RunPropsLattice)
      }
      t.records(n.count())
      n
    }

    def packKey(x: Column, y: Column): Column =
      shiftleft(x, 32).bitwiseOR(y.bitwiseAND(lit(0xFFFFFFFFL)))
    def keyStr(k: Column): Column = concat_ws("_",
      shiftright(k, 32), shiftright(shiftleft(k, 32), 32))
    val enriched = t.span("Enrichment.cacheAside", "enrichment") {
      val pts = norm.select(col("run_id").as("okey"),
          posexplode(col("coords")).as(Seq("pidx", "pt")))
        .select(col("okey"), col("pidx"),
          packKey(qix(element_at(col("pt"), 1)),
            qix(element_at(col("pt"), 2))).as("key"))
      val emptyCache = s.createDataFrame(new java.util.ArrayList[Row](),
        StructType.fromDDL("key bigint, value double"))
      val (cache, _) = Enrichment.cacheAside(pts.select("key"), emptyCache,
        lit(true), missing => missing.select(col("key"),
          Enrichment.stubElevation(keyStr(col("key"))).as("value")))
      val segZ = pts.join(cache, Seq("key")).groupBy("okey")
        .agg(min_by(col("value"), col("pidx")).as("z_start"),
          max_by(col("value"), col("pidx")).as("z_end"),
          min(col("value")).as("z_min"), max(col("value")).as("z_max"))
      val first = element_at(col("coords"), 1)
      val last = element_at(col("coords"), -1)
      mat(t, norm.select(col("run_id").as("okey"),
          col("props.uses").as("uses"),
          coalesce(col("props.difficulty"), lit("other")).as("difficulty"),
          qix(element_at(first, 1)).as("x0"),
          qix(element_at(first, 2)).as("y0"),
          qix(element_at(last, 1)).as("xn"),
          qix(element_at(last, 2)).as("yn"),
          lineLengthM(col("coords")).as("len_m"))
        .join(segZ, Seq("okey")))
    }

    val assigned = t.span("Clustering", "clustering") {
      val startIsAnchor = col("x0") < col("xn") ||
        (col("x0") === col("xn") && col("y0") <= col("yn"))
      val objs = enriched.select(col("okey"), col("uses"),
        (when(startIsAnchor, col("x0")).otherwise(col("xn"))
          .cast("double") / 1e7).as("lon"),
        (when(startIsAnchor, col("y0")).otherwise(col("yn"))
          .cast("double") / 1e7).as("lat"))
      val areas = graft.Tables.orders(s, d)
        .filter(pmod(col("o_orderkey"), lit(37)) === 0)
        .select(col("o_orderkey").as("area_id"),
          when(pmod(col("o_orderkey"), lit(2)) === 0, "downhill")
            .otherwise("nordic").as("act"),
          (pmod(col("o_orderkey") * 7919, lit(360000)).cast("double")
            / 1000.0 - 180.0).as("lon"),
          (pmod(col("o_orderkey") * 104729, lit(120000)).cast("double")
            / 1000.0 - 60.0).as("lat"))
      mat(t, t.span(ClosureSpan, "clustering") {
        Clustering.transitiveAssign(areas, objs, RadiusM, CellDeg)
      })
    }

    t.span("Statistics", "statistics") {
      val stats = enriched.join(assigned, Seq("okey"))
        .groupBy("area_id", "difficulty")
        .agg(count(lit(1)).as("n"), sum("len_m").as("len_m"),
          min(col("z_min")).as("zmin"), max(col("z_max")).as("zmax"),
          sum(abs(col("z_end") - col("z_start"))).as("dz"))
        .groupBy("area_id")
        .agg(sum("n").as("n_segments"),
          (floor((sum("len_m") / 1000.0) * 1e4 + 0.5) / 1e4).as("total_km"),
          array_join(array_sort(collect_list(
            concat(col("difficulty"), lit(":"), col("n")))), ";")
            .as("difficulties"),
          (floor(min("zmin") * 1e1 + 0.5) / 1e1).as("min_elev"),
          (floor(max("zmax") * 1e1 + 0.5) / 1e1).as("max_elev"),
          (floor(sum("dz") * 1e2 + 0.5) / 1e2).as("vertical_m"))
      // plus the program's own per-area run/lift statistics
      // (Statistics.fullStatistics, registered as q_ski_statistics_full)
      writeQuery(t, ChainResult, stats, out) +
        runQuery(s, d, t, StatsQuery, out)
    }
  }

  /** The nightly job: the chain and the statistics, then the four sinks. */
  def skiBatch(s: SparkSession, d: String, out: File, t: Tracer)
      : JobOutput = {
    val chain =
      if (t.enabled) tracedChain(s, d, out, t)
      else Seq(ChainResult, StatsQuery).map(q => runQuery(s, d, t, q, out)).sum
    val sinks = skiSinks(s, d, out, t)
    sinks.copy(bytes = sinks.bytes + chain)
  }

  /** The four sinks: CSV and MapboxGL tables, a GeoPackage file and an
    * MBTiles file.
    */
  private def skiSinks(s: SparkSession, d: String, out: File,
      t: Tracer): JobOutput = {
    val tables = t.span("OutputFormats", "outputformats") {
      OutputQueries.map(q => runQuery(s, d, t, q, out)).sum
    }
    val gpkg = new File(out, "ski.gpkg")
    val g = t.span("GeoPackage.writeGpkgFile", "geopackage") {
      val r = GeoPackage.writeGpkgFile(s, d, gpkg.toPath)
      t.records(r.map(_._3).sum)
      r
    }
    val mbtiles = new File(out, "ski.mbtiles")
    val m = t.span("MvtTiles.writeMbtilesFile", "mvttiles") {
      val r = MvtTiles.writeMbtilesFile(s, d, mbtiles.toPath)
      t.records(r.filter(_._1 == "tiles").map(_._3).sum)
      r
    }
    JobOutput(tables + gpkg.length() + mbtiles.length(),
      Map(gpkg.getName -> g, mbtiles.getName -> m))
  }

  def corpus(s: SparkSession, d: String, out: File, t: Tracer): JobOutput =
    JobOutput(CorpusQueries.map { case (layer, qs) =>
      t.span(layer, layer)(qs.map(q => runQuery(s, d, t, q, out)).sum)
    }.sum, Map.empty)

  /** Runs one registered query into `out/<name>` as parquet; returns
    * the bytes written.
    */
  private def runQuery(s: SparkSession, d: String, t: Tracer, name: String,
      out: File): Long =
    t.span(name, t.currentLayer) {
      writeQuery(t, name, SparkEntry.queries(name)(s, d), out)
    }

  private def writeQuery(t: Tracer, name: String, df: DataFrame,
      out: File): Long = {
    val dir = new File(out, name)
    df.write.mode("overwrite").parquet(dir.getPath)
    if (t.enabled) t.records(df.sparkSession.read.parquet(dir.getPath).count())
    Dirs.bytes(dir)
  }
}
