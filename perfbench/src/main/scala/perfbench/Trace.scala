package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into the engine's
  * modules. A span is (id, parent, name, layer, start, end); the Spark
  * jobs a span's calls submit carry the span id as their job group, so
  * [[SparkTrace]] can attribute tasks to spans. Spans are only recorded
  * when tracing is on; with tracing off [[span]] is a plain call.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Trace(@volatile var enabled: Boolean) {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = 0 // 0 = no enclosing span
  private var sc: SparkContext = _

  /** The context whose job group follows the current span. */
  def attach(ctx: SparkContext): Unit = sc = ctx

  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.length + 1, current, name, layer, System.nanoTime(), 0L)
    spans += s
    val parent = current
    current = s.id
    if (sc != null && !sc.isStopped) sc.setJobGroup(s.id.toString, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      current = parent
      if (sc != null && !sc.isStopped) {
        if (parent == 0) sc.clearJobGroup() else sc.setJobGroup(parent.toString, name)
      }
    }
  }

  /** Records an already-finished interval as a span under the current
    * one, without a job group: the untraced passes of a traced run. */
  def record(layer: String, name: String, startNs: Long, endNs: Long): Unit =
    spans += Span(spans.length + 1, current, name, layer, startNs, endNs)

  def all: Seq[Span] = spans.toSeq
  /** Spans named `name`, without the plain intervals of untraced passes. */
  def named(name: String): Seq[Span] = spans.filter(s => s.name == name && s.layer != "untraced").toSeq

  /** Ids of a span and all spans below it. */
  def subtree(id: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(i: Int): Set[Int] = kids.getOrElse(i, Nil).map(_.id).foldLeft(Set(i))(_ ++ go(_))
    go(id)
  }

  /** Self time of every span: its duration minus the union of its
    * children's intervals (children of one span never overlap: the
    * benchmark calls one engine function at a time). */
  def selfSeconds: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum)).toMap
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Per-task and per-job Spark metrics keyed by the job group (= span id)
  * and the SQL execution id of the job that ran them. Registered on
  * every session the benchmark creates; its counters are read after the
  * bus has delivered the jobs' events. With `recording` off (untraced
  * runs and untraced passes) it records nothing.
  */
final class SparkTrace(@volatile var recording: Boolean) extends SparkListener {
  import SparkTrace._

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    jobs.put(e.jobId, JobRec(group, exec, e.time, e.time))
    e.stageIds.foreach(s => stageGroup.put(s, group))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording)
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && recording) tasks.add(TaskRec(
      Option(stageGroup.get(e.stageId)).getOrElse(""), e.stageId,
      e.taskInfo.duration / 1e3, m.executorCpuTime / 1e9,
      m.jvmGCTime / 1e3, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled + m.memoryBytesSpilled))
  }

  def tasksIn(groups: Set[Int]): Seq[TaskRec] = {
    val g = groups.map(_.toString)
    tasks.asScala.filter(t => g.contains(t.group)).toSeq
  }

  def jobsIn(groups: Set[Int]): Seq[JobRec] = {
    val g = groups.map(_.toString)
    jobs.values.asScala.filter(j => g.contains(j.group)).toSeq
  }
}

object SparkTrace {
  final case class TaskRec(group: String, stage: Int, durationS: Double, cpuS: Double,
      gcS: Double, shuffleWrite: Long, shuffleRead: Long, spill: Long)
  final case class JobRec(group: String, execution: String, startMs: Long, var endMs: Long)
}
