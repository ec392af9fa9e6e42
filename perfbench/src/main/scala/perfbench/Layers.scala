package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Per-layer metrics derived from the trace: Spark task/job aggregates
  * under a set of spans, JVM counters, and the self-time accounting. */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** Spark execution aggregates over the jobs run inside `spans` (and
    * their sub-spans), named `<prefix>.*`. `task_skew` is max ÷ median
    * task time of the stage with the most task time. */
  def spark(c: Ctx, spans: Seq[Span], prefix: String): Seq[(String, (Double, String))] = {
    c.drain()
    val ids = spans.flatMap(s => c.trace.subtree(s.id)).toSet
    val tasks = c.listener.tasksIn(ids)
    val jobs = c.listener.jobsIn(ids)
    val wall = spans.map(_.seconds).sum
    val busy = tasks.map(_.durationS).sum
    val durs = tasks.map(_.durationS)
    Seq(
      "wall_s" -> (wall, "s"),
      "jobs" -> (jobs.size.toDouble, "count"),
      "stages" -> (tasks.map(_.stage).distinct.size.toDouble, "count"),
      "tasks" -> (tasks.size.toDouble, "count"),
      "task_busy_s" -> (busy, "s"),
      "task_cpu_s" -> (tasks.map(_.cpuS).sum, "s"),
      "busy_frac" -> (if (wall > 0) busy / (wall * c.width) else 0.0, "ratio"),
      "gc_s" -> (tasks.map(_.gcS).sum, "s"),
      "shuffle_write_mb" -> (tasks.map(_.shuffleWrite).sum / MB, "MB"),
      "shuffle_read_mb" -> (tasks.map(_.shuffleRead).sum / MB, "MB"),
      "spill_mb" -> (tasks.map(_.spill).sum / MB, "MB"),
      "task_p50_s" -> (Ctx.median(durs), "s"),
      "task_max_s" -> (if (durs.isEmpty) 0.0 else durs.max, "s"),
      "task_skew" -> (heaviestStageSkew(tasks), "ratio")
    ).map { case (k, v) => s"$prefix.$k" -> v }
  }

  def heaviestStageSkew(tasks: Seq[SparkTrace.TaskRec]): Double =
    if (tasks.isEmpty) 0.0
    else {
      val stage = tasks.groupBy(_.stage).maxBy(_._2.map(_.durationS).sum)._2.map(_.durationS)
      val p50 = Ctx.median(stage)
      if (p50 > 0) stage.max / p50 else 0.0
    }

  /** Wall time of each SQL execution run inside `spans`. */
  def executionSeconds(c: Ctx, spans: Seq[Span]): Seq[Double] = {
    c.drain()
    val ids = spans.flatMap(s => c.trace.subtree(s.id)).toSet
    c.listener.jobsIn(ids).filter(_.execution.nonEmpty).groupBy(_.execution).values
      .map(js => (js.map(_.endMs).max - js.map(_.startMs).min) / 1e3).toSeq
  }

  def jvm(c: Ctx, gc0: Double): Seq[(String, (Double, String))] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / MB
    Seq("jvm.gc_s" -> (c.gcSeconds - gc0, "s"), "jvm.jit_s" -> (Ctx.jitSeconds, "s"),
      "jvm.heap_peak_mb" -> (heapPeak, "MB"))
  }

  val Layers: Seq[String] = Seq("bench", "session", "pipeline", "io", "dedup", "kernels", "untraced")

  /** Self time per layer over the whole process. The root span's own
    * time and the JVM's start before `main` are the unaccounted part. */
  def accounting(c: Ctx): Seq[(String, (Double, String))] = {
    val self = c.trace.selfSeconds
    val spans = c.trace.all.filter(_.parent != 0)
    val wall = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val byLayer = Layers.map(l => l -> spans.filter(_.layer == l).map(s => self(s.id)).sum).toMap
    val unaccounted = wall - byLayer.values.sum
    Layers.map(l => s"layer.${l}_self_s" -> (byLayer(l), "s")) ++ Seq(
      "trace.wall_s" -> (wall, "s"),
      "trace.unaccounted_s" -> (unaccounted, "s"),
      "trace.unaccounted_frac" -> (unaccounted / wall, "ratio"))
  }

  /** Tracing overhead: untraced minus traced throughput of the same
    * passes, interleaved in one process. */
  def overhead(items: Long, traced: Seq[Double], untraced: Seq[Double]): Seq[(String, (Double, String))] = {
    val t = items / Ctx.median(traced)
    val u = items / Ctx.median(untraced)
    Seq("trace.overhead_items_per_s" -> (u - t, "1/s"), "trace.overhead_frac" -> ((u - t) / u, "ratio"))
  }

  /** Kernel stage timings as `kernels.*_us` plus `pipeline.extract_turn_us`. */
  def kernels(us: Map[String, Double]): Seq[(String, (Double, String))] =
    (Kernels.Stages :+ "unaccounted").map(s => s"kernels.${s}_us" -> (us.getOrElse(s, 0.0), "us")) :+
      ("pipeline.extract_turn_us" -> (us.getOrElse("extract_turn", 0.0), "us"))
}
