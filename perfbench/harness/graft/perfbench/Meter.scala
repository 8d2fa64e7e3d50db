package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Executor work per span. Each Spark job carries the name of the span
  * open on the thread that launched it (the `SpanKey` local property, set
  * by [[Tracer]]); every task of the job's stages is added to that name.
  * The benchmark runs one job at a time, so the totals of a name are the
  * work its span caused.
  */
final class Meter extends SparkListener {
  final class Acc {
    var cpuNs = 0L
    var tasks = 0L
    var retries = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var jobs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]

    def toJson: Map[String, Any] = Map(
      "cpu_s" -> cpuNs / 1e9, "tasks" -> tasks, "task_retries" -> retries,
      "shuffle_mb" -> shuffleBytes / 1048576.0,
      "spill_mb" -> spillBytes / 1048576.0, "jobs" -> jobs,
      "task_ms" -> taskMs.toSeq)
  }

  private val accs = mutable.HashMap.empty[String, Acc]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private def acc(span: String): Acc = accs.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .getOrElse(Tracer.Unattributed)
    e.stageIds.foreach(stageSpan(_) = span)
    acc(span).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, Tracer.Unattributed))
    a.tasks += 1
    if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful) a.retries += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }

  /** Waits for every queued listener event, then returns and resets the
    * totals per span name. */
  def take(sc: SparkContext): Map[String, Acc] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { val r = accs.toMap; accs.clear(); r }
  }
}

final case class Span(name: String, run: Int, parent: String,
    startNs: Long, endNs: Long) {
  def toJson: Map[String, Any] = Map("name" -> name, "run" -> run,
    "parent" -> parent, "start_ns" -> startNs, "end_ns" -> endNs)
}

/** In-memory spans, written out when the run ends. A span also names the
  * Spark jobs started inside it (see [[Meter]]). */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[String] = Nil

  def span[T](name: String, run: Int)(body: => T): T = {
    val parent = open.headOption.getOrElse("")
    val before = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, name)
    open = name :: open
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, run, parent, t0, System.nanoTime())
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, before)
    }
  }

  /** Wall seconds of the spans called `name` in run `run`. */
  def wall(name: String, run: Int): Double = spans
    .filter(s => s.name == name && s.run == run)
    .map(s => (s.endNs - s.startNs) / 1e9).sum
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Unattributed = "unattributed"
}

/** JVM-wide counters read around each job. */
object JvmStats {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  /** High-water resident set size of this process (Linux `VmHWM`). */
  def peakRssMb: Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    java.nio.file.Files.readAllLines(status).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in " + status))
  }
}
