package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark entry point: one workload, one seed, one measuring window.
  *
  * {{{
  * perfbench.Main --workload <extract_chat|checkpoint_resume|dedup_near|selftest>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * With `--trace 0` the last stdout line carries the end-to-end metrics,
  * with `--trace 1` the per-layer ones; both carry the output check's
  * `attempted` / `failed` counts.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")), Paths.get(kv("out")))
    val c = new Ctx(o)
    if (o.workload == "selftest") {
      val failed = try SelfTest.run(c) finally c.stop()
      println(s"selftest: ${failed.size} failed")
      sys.exit(if (failed.isEmpty) 0 else 1)
    }
    val run: Ctx => Unit = o.workload match {
      case "extract_chat" => ExtractChat.run
      case "checkpoint_resume" => CheckpointResume.run
      case "dedup_near" => DedupNear.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    c.trace.span("bench", "run") {
      try run(c) finally c.trace.span("session", "session.stop")(c.stop())
    }
    c.finish()
  }
}

/** State of one benchmark process: the active session, the trace, the
  * metrics collected so far and the output-check tallies. */
final class Ctx(val o: Main.Opts) {
  val trace = new Trace(o.trace)
  val listener = new SparkTrace(o.trace)
  /** (observation name → row) of every `Extract.run` observation seen. */
  val observed = new java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, Long])]()
  private var current: SparkSession = _
  private var cores = 0
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Metrics outside the result line (zero-valued or specific to one
    * workload), printed on the summary line before it. */
  val summary = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private val gc0 = gcSeconds

  def spark: SparkSession = current
  def width: Int = cores

  /** Stops the active session (if any) and starts `local[n]` with the
    * fixed shuffle partition count. */
  def session(n: Int): SparkSession = trace.span("session", s"session.local[$n]") {
    stop()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Ctx.Partitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // a dedup pass generates more classes than the default 100-entry
      // codegen cache keeps, so each counted pass recompiled a random
      // 27-66 of them; with room for all, every counted pass reuses the
      // warm-up's classes
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith(graft.pipeline.Extract.MetricsName + "_"))
            observed.add(name -> row.schema.fieldNames.map(k =>
              k -> Option(row.getAs[Any](k)).map(_.toString.toLong).getOrElse(0L)).toMap)
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    trace.attach(s.sparkContext)
    current = s
    cores = n
    s
  }

  /** Runs `body` with only `n` of the session's task slots free: a
    * blocker job holds the others with tasks that wait on a latch (in
    * local mode tasks are threads of this JVM). The same session, input
    * and partition count then run at two widths without a restart. */
  def withSlots[T](n: Int)(body: => T): T = {
    val hold = cores - n
    if (hold <= 0) return body
    val release = new java.util.concurrent.CountDownLatch(1)
    Ctx.release = release
    Ctx.held.drainPermits()
    val sc = current.sparkContext
    val blocker = new Thread(() => {
      sc.clearJobGroup()
      sc.parallelize(0 until hold, hold).foreach { _ => Ctx.held.release(); Ctx.release.await() }
    })
    blocker.start()
    Ctx.held.acquire(hold)
    try body
    finally {
      release.countDown()
      blocker.join()
    }
  }

  def stop(): Unit = if (current != null) {
    current.stop()
    current = null
  }

  /** Waits until every listener has seen every event so far. */
  def drain(): Unit = if (current != null) org.apache.spark.PerfbenchBus.drain(current.sparkContext)

  def dir(name: String): Path = o.work.resolve(name)

  /** A fresh (deleted, not yet created) path under the work dir. */
  def fresh(name: String): String = { Ctx.delete(dir(name)); dir(name).toString }

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Tallies one output check. */
  def checked(what: String, r: Check.Result): Unit = {
    attempted += r.attempted
    failed += r.failed
    failures ++= r.examples.map(e => s"$what: $e")
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Runs `pass(-2)` and `pass(-1)` as uncounted warm-ups and puts
    * `setup_s`, the seconds from JVM start until the warm-up is done (so
    * process start, session start and input generation are in it too).
    * Then runs `pass(0)`, `pass(1)`, … until `budget` seconds have
    * passed since the warm-up, at least `min` counted passes were made
    * and their number is odd; returns the counted passes' seconds. Each
    * counted pass starts on a freshly collected heap, so no pass pays for
    * another's garbage. */
  def passes(budget: Double, min: Int)(pass: Int => Double): Seq[Double] = {
    (-2 to -1).foreach(pass)
    put("setup_s", (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3, "s")
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.length < min || out.length % 2 == 0 || (System.nanoTime() - t0) / 1e9 < budget) {
      trace.span("bench", "gc")(System.gc())
      out += pass(out.length)
    }
    out.toSeq
  }

  /** Times `body`, as a span of `layer` when tracing. */
  def timed(layer: String, name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    trace.span(layer, name)(body)
    (System.nanoTime() - t0) / 1e9
  }

  /** [[timed]], except that in a traced run an untraced pass (`traced`
    * false) turns span and task recording off for its duration and is
    * recorded afterwards as one plain `untraced` interval. Comparing the
    * two kinds of pass gives the tracing overhead. */
  def pass(traced: Boolean, layer: String, name: String)(body: => Unit): Double =
    if (!o.trace || traced) timed(layer, name)(body)
    else {
      // the traced passes' events must be counted before recording stops
      trace.span("bench", "drain")(drain())
      trace.enabled = false
      listener.recording = false
      val t0 = System.nanoTime()
      var t1 = 0L
      try { body; t1 = System.nanoTime() }
      finally {
        trace.enabled = true
        trace.span("bench", "drain")(drain())
        listener.recording = true
      }
      trace.record("untraced", name, t0, t1)
      (t1 - t0) / 1e9
    }

  def finish(): Unit = {
    put("rss_peak_mb", Ctx.vmHwmMb, "MB")
    if (o.trace) {
      metrics ++= Layers.jvm(this, gc0)
      metrics ++= Layers.accounting(this)
      Files.createDirectories(o.out)
      Files.writeString(o.out.resolve(s"trace-${o.workload}-seed${o.seed}.json"), trace.toJson)
    }
    val shown = summary ++ metrics
    println("perfbench " + o.workload + " " + shown.map { case (k, (v, u)) => s"$k=${Ctx.num(v)} $u" }
      .mkString(", ") + s", failed_frac=${Ctx.num(if (attempted == 0) 0.0 else failed.toDouble / attempted)} ratio")
    failures.take(10).foreach(f => println(s"perfbench failure: $f"))
    val wanted = if (o.trace) Ctx.PerLayer else Ctx.EndToEnd
    val ms = wanted.map { k =>
      val (v, u) = metrics.getOrElse(k, throw new IllegalStateException(s"metric $k was not measured"))
      s""""$k":{"value":${Ctx.num(v)},"unit":"$u"}"""
    }
    println(s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{${ms.mkString(",")}}}""")
  }
}

object Ctx {
  // the blocker tasks of Ctx.withSlots signal `held` and wait on `release`
  private val held = new java.util.concurrent.Semaphore(0)
  @volatile private var release = new java.util.concurrent.CountDownLatch(0)

  /** Shuffle width of every session: 4 partitions per task slot of
    * `local[4]`, the same whether 4 or 2 slots are free. */
  val Partitions = 16

  val EndToEnd: Seq[String] = Seq("setup_s", "cpu_per_item_ref", "scaling_eff", "write_amp", "rss_peak_mb")

  val PerLayer: Seq[String] =
    (Kernels.Stages ++ Seq("unaccounted")).map("kernels." + _ + "_us") ++ Seq(
      "pipeline.extract_turn_us",
      "pipeline.wall_s", "pipeline.jobs", "pipeline.stages", "pipeline.tasks",
      "pipeline.task_busy_s", "pipeline.task_cpu_s", "pipeline.busy_frac", "pipeline.gc_s",
      "pipeline.shuffle_write_mb", "pipeline.shuffle_read_mb", "pipeline.spill_mb",
      "pipeline.task_p50_s", "pipeline.task_max_s", "pipeline.task_skew", "pipeline.encode_s",
      "pipeline.obs_turns", "pipeline.obs_words", "pipeline.obs_blocks_kept",
      "pipeline.obs_blocks_dropped", "pipeline.obs_parse_failures",
      "io.bucket_s", "io.run_s", "io.resume_s", "io.chunks", "io.chunks_skipped",
      "io.chunks_rerun", "io.chunk_p50_s", "io.chunk_max_s", "io.bytes_written_mb",
      "io.files_written", "io.read_output_s",
      "dedup.lsh_s", "dedup.candidates", "dedup.verified_pairs", "dedup.verify_yield",
      "dedup.components_s", "dedup.rounds", "dedup.survivors_s", "dedup.clusters",
      "dedup.join_task_skew",
      "jvm.gc_s", "jvm.jit_s", "jvm.heap_peak_mb",
      "layer.bench_self_s", "layer.session_self_s", "layer.pipeline_self_s", "layer.io_self_s",
      "layer.dedup_self_s", "layer.kernels_self_s", "layer.untraced_self_s", "trace.wall_s", "trace.unaccounted_s",
      "trace.unaccounted_frac", "trace.overhead_items_per_s", "trace.overhead_frac")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** CPU seconds this process has used, all threads (JIT included). */
  def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** CPU seconds the JIT compiler threads have used so far, from their
    * `/proc/self/task/<tid>/stat` counters (clock ticks of 1/100 s).
    * The JVM runs with `-XX:-UseDynamicNumberOfCompilerThreads`, so no
    * compiler thread exits and takes its counter with it. (The
    * compilation MXBean's total is elapsed time, which grows while a
    * compiler thread waits for a CPU, so it is no CPU figure.) */
  def jitSeconds: Double = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.map { d =>
      val st = try Files.readString(d.resolve("stat")) catch { case _: java.io.IOException => "" }
      val close = st.lastIndexOf(')')
      if (close < 0 || !st.substring(st.indexOf('(') + 1, close).contains("CompilerThre")) 0L
      else {
        // fields after the name: state is 3rd, utime 14th, stime 15th
        val f = st.substring(close + 2).split(' ')
        f(11).toLong + f(12).toLong
      }
    }.sum / 100.0
    finally tasks.close()
  }

  /** CPU seconds of every thread but the JIT compiler's. */
  def workCpuSeconds: Double = cpuSeconds - jitSeconds

  def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  /** Bytes and files under a directory tree. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}
