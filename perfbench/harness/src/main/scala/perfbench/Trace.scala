package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call at a layer boundary. `parent` is the enclosing span's
  * id (-1 for the root). Counters are filled in by the harness while
  * the span is open.
  */
final class Span(val id: Int, val name: String, val layer: String,
    val parent: Int, val startNs: Long) {
  var endNs: Long = 0L
  var records: Long = 0L
  var scaffoldBuilds: Int = 0
  var scaffoldBytes: Long = 0L
}

/** In-memory span recorder. While a span is open its id is the Spark
  * job group of the calling thread, so [[StageListener]] can attribute
  * every task of the call to it. Disabled, it only runs the body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean,
    scaffoldDir: () => java.io.File) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val sp = new Span(spans.size, name, layer,
      stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += sp
    stack = sp :: stack
    val before = Dirs.artifacts(scaffoldDir())
    sc.setJobGroup(sp.id.toString, name, interruptOnCancel = false)
    try body
    finally {
      sp.endNs = System.nanoTime()
      val after = Dirs.artifacts(scaffoldDir())
      val built = after.keySet -- before.keySet
      sp.scaffoldBuilds = built.size
      sp.scaffoldBytes = built.toSeq.map(after).sum
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name,
          interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Layer of the innermost open span. */
  def currentLayer: String = stack.headOption.map(_.layer).getOrElse("")

  /** Rows the innermost open span's call produced. */
  def records(n: Long): Unit =
    if (enabled) stack.headOption.foreach(_.records += n)
}

object Dirs {
  /** Committed artifacts under a scaffold root: name -> bytes (a build
    * in progress is a dot-named temp directory).
    */
  def artifacts(root: java.io.File): Map[String, Long] =
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && !f.getName.startsWith("."))
      .map(f => f.getName -> bytes(f)).toMap

  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
    else f.length()

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

/** Stage metrics summed per job group. */
final class GroupMetrics {
  val jobs = new AtomicLong
  /** Distinct SQL executions, i.e. Dataset actions. Adaptive execution
    * runs one action as several jobs, some on other threads.
    */
  val actions = ConcurrentHashMap.newKeySet[String]()
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong
  val retriedTasks = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
}

/** Benchmark-side listener: maps each stage to the job group of the job
  * that submitted it and sums task metrics per group. Tasks of jobs
  * without a group land under "".
  */
final class StageListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, GroupMetrics]()

  def group(g: String): GroupMetrics =
    byGroup.computeIfAbsent(g, _ => new GroupMetrics)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(
      "spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    group(g).jobs.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty(
      "spark.sql.execution.id"))).foreach(group(g).actions.add)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.properties != null)
      stageGroup.put(e.stageInfo.stageId, groupOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = group(stageGroup.getOrDefault(e.stageId, ""))
    g.tasks.incrementAndGet()
    if (e.reason != Success) g.failedTasks.incrementAndGet()
    if (e.taskInfo != null && e.taskInfo.attemptNumber > 0)
      g.retriedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      g.cpuNs.addAndGet(m.executorCpuTime)
      g.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      g.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      g.inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def groups: Map[String, GroupMetrics] = byGroup.asScala.toMap
}
