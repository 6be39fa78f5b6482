package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM.
  *
  *   Harness --workload ski_batch|corpus_batch --input DIR --work DIR
  *           --seconds S --trace 0|1 --result FILE
  *
  * The timed window runs jobs back to back, one at a time, until `S`
  * seconds are spent. Every job starts cold, as a nightly batch does: a
  * fresh session, a freshly linked copy of the input (so every
  * fingerprint-keyed memo misses) and an empty scaffold directory. The
  * first job also starts in a cold JVM; its outputs stay in
  * `work/check/out` for the correctness check.
  *
  * With `--trace 1`, two more jobs follow the window: one with spans and
  * the stage listener on, then an untraced one. The difference of their
  * walls is the tracing overhead. The traced job's outputs stay in
  * `work/traced/out` and are checked as well. The result file is JSON
  * for `run.py`.
  */
object Harness {

  type Job = (SparkSession, String, File, Tracer) => JobOutput

  /** One job's session, input directory, scaffold root and output. */
  final case class Stage(s: SparkSession, in: String, scaffold: File,
      out: File)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val input = new File(opt("input")).getAbsoluteFile
    val work = new File(opt("work")).getAbsoluteFile
    val seconds = opt("seconds").toDouble
    val job: Job = opt("workload") match {
      case "ski_batch" => Workloads.skiBatch
      case "corpus_batch" => Workloads.corpus
      case w => sys.error(s"unknown workload $w")
    }

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${opt("workload")}")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "10000000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext

    def stage(name: String): Stage = {
      val dir = new File(work, name)
      val in = new File(dir, "input")
      in.mkdirs()
      input.listFiles().foreach(f =>
        Files.createLink(new File(in, f.getName).toPath, f.toPath))
      val scaffold = new File(dir, "scaffold")
      val s = spark.newSession()
      s.conf.set("spark.graft.scaffoldDir", scaffold.getPath)
      Stage(s, in.getPath, scaffold, new File(dir, "out"))
    }
    var attempted = 0
    var failed = 0
    def run(st: Stage, t: Tracer): Option[JobOutput] = {
      attempted += 1
      val before = sc.getPersistentRDDs.keySet
      try Some(job(st.s, st.in, st.out, t))
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] job failed: $e")
          None
      } finally {
        // the blocks this job checkpointed are never read again
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before.contains(id)) rdd.unpersist(blocking = true)
        }
      }
    }
    def untraced(st: Stage) = new Tracer(sc, false, () => st.scaffold)

    val check = stage("check")
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val walls, cpuS, outBytes = ArrayBuffer[Double]()
    var checked: Option[JobOutput] = None
    val windowOpenMs = System.currentTimeMillis()
    var i = 0
    while (walls.sum < seconds) {
      val st = if (i == 0) check else stage(s"iter-$i")
      val c0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val res = run(st, untraced(st))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - c0) / 1e9
      if (i == 0) checked = Some(res.getOrElse(sys.exit(3)))
      res.foreach { o => walls += wall; cpuS += cpu; outBytes += o.bytes }
      if (failed > 3) sys.exit(4)
      if (i > 0) Dirs.delete(new File(work, s"iter-$i"))
      i += 1
    }
    val windowCloseMs = System.currentTimeMillis()

    val traceJson = if (opt("trace") != "1") "null" else {
      // JIT warm-up goes on for a few jobs after the cold one; the
      // untraced baseline runs after the traced job, so ongoing warm-up
      // can only inflate the overhead, never hide it
      val st = stage("traced")
      val listener = new StageListener
      sc.addSparkListener(listener)
      val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      val gc0 = gcBeans.map(_.getCollectionTime).sum
      val tracer = new Tracer(sc, true, () => st.scaffold)
      val t0 = System.nanoTime()
      val res = tracer.span("job", "") { run(st, tracer) }
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3
      org.apache.spark.BusDrain(sc)
      sc.removeSparkListener(listener)
      if (res.isEmpty) sys.exit(5)
      writeOracleSql(st.out)
      val u = stage("untraced")
      val u0 = System.nanoTime()
      run(u, untraced(u)).getOrElse(sys.exit(5))
      val baseline = (System.nanoTime() - u0) / 1e9
      val groups = listener.groups
      val t00 = tracer.spans.head.startNs
      val spans = tracer.spans.map { sp =>
        val g = groups.getOrElse(sp.id.toString, new GroupMetrics)
        Json.obj(Seq("id" -> sp.id, "name" -> sp.name,
          "layer" -> sp.layer, "parent" -> sp.parent,
          "start_s" -> (sp.startNs - t00) / 1e9,
          "end_s" -> (sp.endNs - t00) / 1e9, "records" -> sp.records,
          "scaffold_builds" -> sp.scaffoldBuilds,
          "scaffold_bytes" -> sp.scaffoldBytes) ++ groupFields(g): _*)
      }
      Json.obj("wall_s" -> wall, "untraced_wall_s" -> baseline,
        "gc_s" -> gc,
        "max_method_bytes" -> org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax,
        "spans" -> Json.Raw(spans.mkString("[", ",", "]")),
        "outside_spans" -> Json.Raw(Json.obj(
          groupFields(groups.getOrElse("", new GroupMetrics)): _*)))
    }

    writeOracleSql(check.out)

    val vmhwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)
    val containers = checked.get.containers.map { case (f, tables) =>
      f -> Json.Raw(tables.map { case (n, _, rows) =>
        Json.obj("table" -> n, "rows" -> rows)
      }.mkString("[", ",", "]"))
    }
    val result = Json.obj(
      "window_open_ms" -> windowOpenMs, "window_close_ms" -> windowCloseMs,
      "walls" -> Json.Raw(walls.mkString("[", ",", "]")),
      "cpus" -> Json.Raw(cpuS.mkString("[", ",", "]")),
      "output_bytes" -> Json.Raw(outBytes.mkString("[", ",", "]")),
      "attempted" -> attempted, "failed" -> failed,
      "vmhwm_kb" -> vmhwmKb, "nproc" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "containers" -> Json.Raw(Json.obj(containers.toSeq: _*)),
      "trace" -> Json.Raw(traceJson))
    Files.write(new File(opt("result")).toPath, result.getBytes("UTF-8"))
    spark.stop()
  }

  /** Oracle SQL of every registered query a job wrote into `out`, for
    * the correctness check.
    */
  private def writeOracleSql(out: File): Unit = {
    val written = Option(out.listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).toSet
    Files.write(new File(out, "oracle_sql.json").toPath,
      Json.obj(graft.SparkEntry.oracleSql.filter(kv => written(kv._1))
        .toSeq.sortBy(_._1): _*).getBytes("UTF-8"))
  }

  private def groupFields(g: GroupMetrics): Seq[(String, Any)] = Seq(
    "jobs" -> g.jobs.get, "actions" -> g.actions.size,
    "tasks" -> g.tasks.get,
    "failed_tasks" -> g.failedTasks.get,
    "retried_tasks" -> g.retriedTasks.get,
    "task_cpu_s" -> g.cpuNs.get / 1e9,
    "shuffle_write_bytes" -> g.shuffleWriteBytes.get,
    "spill_bytes" -> g.spillBytes.get, "input_bytes" -> g.inputBytes.get)
}

/** Minimal JSON object writer for the result file. */
object Json {
  final case class Raw(json: String)

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    quote(k) + ":" + (v match {
      case Raw(j) => j
      case s: String => quote(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case x => x.toString
    })
  }.mkString("{", ",", "}")

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
