package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import graft.io.Checkpoint
import graft.model.Turn
import graft.operators.Dedup
import graft.pipeline.Extract

/** Shared shape of a workload run.
  *
  * Every run starts with one set-up: a session start and the generation
  * and materialization of the inputs, then two uncounted warm-up passes
  * (JIT, codegen and caches). `setup_s` runs from JVM start to the end of
  * the warm-up. Then the window: an odd number of counted passes.
  * Untraced (`--trace 0`): passes alternate between 4 and 2 task slots
  * on the same input and partition count (`scaling_eff`). Traced
  * (`--trace 1`): passes at 4 slots alternate between traced and
  * untraced (the tracing overhead), then the per-layer extras. The
  * output checks run after the window.
  */
private[perfbench] object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def bytes(dir: String): Long = Ctx.du(Paths.get(dir))._1

  val TurnEnc: Encoder[Turn] = Encoders.product[Turn]

  def turns(c: Ctx, dir: String): Dataset[Turn] =
    c.spark.read.parquet(dir).select(Gen.TurnCols.map(col): _*).as(TurnEnc)

  private def wide(i: Int): Boolean = i % 2 == 0

  /** Untraced measurement. `pass(i)` runs pass `i` (< 0 = warm-up) and
    * returns its seconds. Counted passes alternate between all 4 task
    * slots and only 2 of them, 4,2,4,…,4, and each 2-slot pass is paired
    * with the 4-slot pass after it, so both widths of a pair see the same
    * JIT state and machine load. Every pass is
    * followed by one run of the [[Reference]] job. `outBytes` is the size
    * of the last pass's output. Puts `cpu_per_item_ref`, `scaling_eff`
    * and `write_amp`; `items_per_s` and `cpu_ms_per_item` go on the
    * summary line.
    *
    * Throughput is reported as CPU time, not as items per wall second:
    * on a VM whose host is shared, other guests' load moved the wall time
    * of whole runs by up to 2× (items/s spread 36% between the quartiles
    * of ten seeds), while the kernel does not charge a process for the
    * time the host takes its CPUs away. The CPU time is that of every
    * thread but the JIT compiler's, whose share of a pass depends on how
    * far compilation has got. It is given in units of the reference
    * job's CPU time per row, measured right after the same pass: the
    * ratio of each pass to its reference run, median over the passes
    * (README.md, "What the runs show", compares the two over ten seeds). */
  def untraced(c: Ctx, items: Long, inBytes: Long, outBytes: () => Long)(pass: Int => Double): Unit = {
    val cpu = mutable.ArrayBuffer.empty[Double]
    val ref = mutable.ArrayBuffer.empty[Double]
    val times = c.passes(c.o.seconds, 5) { i =>
      val cpu0 = Ctx.workCpuSeconds
      val s = if (wide(i) || i < 0) pass(i) else c.withSlots(2)(pass(i))
      val cpu1 = Ctx.workCpuSeconds
      // the runs after the warm-up passes are the reference's own warm-up
      System.gc()
      val ref0 = Ctx.workCpuSeconds
      Reference.run(c.spark)
      if (i >= 0) {
        cpu += cpu1 - cpu0
        ref += Ctx.workCpuSeconds - ref0
      }
      s
    }
    val at4 = times.indices.filter(wide).map(times)
    val at2 = times.indices.filterNot(wide).map(times)
    // each 2-slot pass against the 4-slot pass right after it, so a
    // drift in machine speed falls on both widths; the first counted
    // pass, still the slowest as the JIT catches up, is in no pair
    val slowdown = times.indices.filterNot(wide).map(k => times(k) / times(k + 1))
    c.put("cpu_per_item_ref", Ctx.median(cpu.indices.map(k => cpu(k) / items / (ref(k) / Reference.Rows))), "ref_rows")
    c.put("scaling_eff", Ctx.median(slowdown) / 2, "ratio")
    c.put("write_amp", outBytes().toDouble / inBytes, "ratio")
    c.summary("items_per_s") = (items / Ctx.median(at4), "1/s")
    c.summary("cpu_ms_per_item") = (Ctx.median(cpu.toSeq) * 1e3 / items, "ms")
    System.err.println(f"[perfbench] at4=${at4.map(s => f"$s%.3f").mkString(",")} " +
      f"at2=${at2.map(s => f"$s%.3f").mkString(",")} cpu=${cpu.map(s => f"$s%.3f").mkString(",")} " +
      f"ref=${ref.map(s => f"$s%.3f").mkString(",")}")
  }

  /** Traced measurement: passes alternate traced (even) and untraced
    * (odd); the `Extract.run` observations of the first traced pass
    * become `pipeline.obs_*`. Returns the traced passes' seconds. */
  def traced(c: Ctx, items: Long)(pass: (Int, Boolean) => Double): Seq[Double] = {
    val times = c.passes(c.o.seconds, 3) { i =>
      if (i != 0) pass(i, i % 2 == 0)
      else {
        c.drain()
        val from = c.observed.size
        val s = pass(i, true)
        c.drain()
        val rows = c.observed.asScala.toSeq.drop(from).map(_._2)
        Seq("turns", "words", "blocks_kept", "blocks_dropped", "parse_failures").foreach(k =>
          c.put(s"pipeline.obs_$k", rows.map(_.getOrElse(k, 0L)).sum.toDouble, "count"))
        s
      }
    }
    val tr = times.indices.filter(_ % 2 == 0).map(times)
    c.metrics ++= Layers.overhead(items, tr, times.indices.filter(_ % 2 == 1).map(times))
    tr
  }

  /** `pipeline.encode_s` (full-output sink minus text-only sink, one
    * pass each) and the single-thread kernel stage timings on a seeded
    * sample of the workload's turns. */
  def kernelLayers(c: Ctx, dir: String): Unit = {
    val full = c.timed("pipeline", "Extract.run.full_sink")(noop(Extract.run(turns(c, dir)).toDF()))
    val text = c.timed("pipeline", "Extract.run.text_sink")(noop(Extract.run(turns(c, dir)).select("extractedText")))
    c.put("pipeline.encode_s", full - text, "s")
    val sample = c.trace.span("bench", "kernel_sample") {
      turns(c, dir).orderBy(xxhash64(col("conv_id"), col("turn_idx"), lit(c.o.seed))).limit(600).collect().toSeq
    }
    c.metrics ++= Layers.kernels(c.trace.span("kernels", "Kernels.measure")(Kernels.measure(sample, 0.2)))
  }

  /** Per-layer names of a layer the workload does not use, reported as 0. */
  def zeros(c: Ctx, prefixes: String*): Unit =
    Ctx.PerLayer.filter(k => prefixes.exists(k.startsWith) && !c.metrics.contains(k))
      .foreach(k => c.put(k, 0.0, if (k.endsWith("_us")) "us" else if (k.endsWith("_s")) "s"
        else if (k.endsWith("_mb")) "MB" else if (k.contains("skew") || k.contains("frac") ||
          k.contains("yield")) "ratio" else "count"))
}

import Workload._

/** `extract_chat`: full-output extraction of seeded transcript turns.
  *
  * Why: the extraction kernel, the `ExtractedTurn` encoder and the salted
  * exchange do almost all the work while `io` and `Dedup` stay idle; the
  * sink is the noop writer over every output column, so no serializer
  * is pruned (a `count()` would prune most of it). The long tool pages
  * give the superlinear kernels (NMS, Match, Order) real work; the 40%
  * conversation exercises the salted exchange. Not in `BENCHMARK.json`'s
  * workload list, which has room for two workloads; `checkpoint_resume`
  * runs the same kernel and encoder.
  */
object ExtractChat {
  val Docs = 9000
  val Pages = 45

  def run(c: Ctx): Unit = {
    var dir = ""
    c.trace.span("bench", "setup") {
      c.session(4)
      dir = c.fresh("turns")
      c.trace.span("bench", "Gen.turns")(Gen.turns(c.spark, c.o.seed, Docs, Pages)._1.write.parquet(dir))
    }
    val items = (Docs + Pages).toLong
    // the last uncounted warm-up pass writes the full output as parquet
    // for the check
    val checked = c.dir("checked").toString
    def pass(i: Int, traced: Boolean): Double = {
      c.pass(traced, "pipeline", if (i < 0) "warmup" else "Extract.run") {
        val out = Extract.run(turns(c, dir)).toDF()
        if (i == -1) out.write.mode("overwrite").parquet(checked) else noop(out)
      }
    }
    if (!c.o.trace) untraced(c, items, bytes(dir), () => 0L)(pass(_, true))
    else {
      traced(c, items)(pass)
      c.metrics ++= Layers.spark(c, c.trace.named("Extract.run"), "pipeline")
      kernelLayers(c, dir)
      zeros(c, "io.", "dedup.")
    }
    c.trace.span("bench", "check") {
      c.checked("extract_chat", Check.turns(c.spark.read.parquet(checked), Gen.turns(c.spark, c.o.seed, Docs, Pages)._2))
    }
  }
}

/** `checkpoint_resume`: the resumable extraction writer over a bucketed
  * source. Each pass is a fresh `Checkpoint.runAllBucketed` (every
  * chunk's parquet and marker). Once per run a seeded quarter of the
  * chunks of one output (one of four) loses its marker and half of its
  * data files, as after a crash mid-write; the resume must rewrite
  * exactly that chunk, and the result must equal the uninterrupted
  * output.
  *
  * Why: the extraction kernel and the full-column encoder run as in
  * `extract_chat` (every column is written as parquet), and parquet
  * writes, marker commits, chunk overlap and the resume-skip logic come
  * on top: the writes-beside-reads workload, and the one turn workload
  * of `BENCHMARK.json`.
  */
object CheckpointResume {
  val Docs = 6000
  val Pages = 30
  val Chunks = 4
  val Lost = 1

  def run(c: Ctx): Unit = {
    var src = ""
    c.trace.span("bench", "setup") {
      c.session(4)
      val t = c.trace.span("bench", "Gen.turns")(Gen.turns(c.spark, c.o.seed, Docs, Pages)._1.as(TurnEnc))
      src = c.fresh("src")
      c.put("io.bucket_s", c.timed("io", "Checkpoint.bucketSource")(Checkpoint.bucketSource(t, src, Chunks)), "s")
    }
    var out = ""
    def pass(i: Int, traced: Boolean): Double = {
      out = c.fresh(if (i < 0) "warm-out" else s"out${i % 2}")
      c.pass(traced, "io", if (i < 0) "warmup" else "Checkpoint.runAllBucketed") {
        Checkpoint.runAllBucketed(c.spark, src, out)
      }
    }
    if (!c.o.trace) {
      untraced(c, Docs + Pages, bytes(src), () => bytes(out))(pass(_, true))
      c.summary("resume_s") = (resume(c, src, out), "s")
    } else {
      val tr = traced(c, Docs + Pages)(pass)
      val runs = c.trace.named("Checkpoint.runAllBucketed")
      c.metrics ++= Layers.spark(c, runs, "pipeline")
      val chunkS = Layers.executionSeconds(c, runs.take(1))
      c.put("io.run_s", Ctx.median(tr), "s")
      c.put("io.chunk_p50_s", Ctx.median(chunkS), "s")
      c.put("io.chunk_max_s", if (chunkS.isEmpty) 0.0 else chunkS.max, "s")
      val (b, files) = Ctx.du(Paths.get(out))
      c.put("io.bytes_written_mb", b / 1024.0 / 1024.0, "MB")
      c.put("io.files_written", files.toDouble, "count")
      c.put("io.read_output_s", c.timed("io", "Checkpoint.readOutput")(
        noop(Checkpoint.readOutput(c.spark, out).toDF())), "s")
      c.put("io.resume_s", resume(c, src, out), "s")
      kernelLayers(c, src)
      zeros(c, "dedup.")
    }
  }

  /** Snapshot of `out`'s row hashes, seeded marker loss, timed resume,
    * then the check of the resumed output against the expectations and
    * the snapshot. Returns the resume's seconds. */
  def resume(c: Ctx, src: String, out: String): Double = {
    val ref = c.fresh("ref")
    c.trace.span("bench", "snapshot")(Check.rowHashes(Checkpoint.readOutput(c.spark, out).toDF()).write.parquet(ref))
    c.trace.span("bench", "marker_loss")(loseMarkers(out, c.o.seed))
    var results = Seq.empty[Checkpoint.ChunkResult]
    val s = c.timed("io", "Checkpoint.runAllBucketed.resume") { results = Checkpoint.runAllBucketed(c.spark, src, out) }
    c.put("io.chunks", results.size.toDouble, "count")
    c.put("io.chunks_skipped", results.count(_.skipped).toDouble, "count")
    c.put("io.chunks_rerun", results.count(!_.skipped).toDouble, "count")
    c.trace.span("bench", "check") {
      c.checked("checkpoint_resume", Check.turns(Checkpoint.readOutput(c.spark, out).toDF(),
        Gen.turns(c.spark, c.o.seed, Docs, Pages)._2, Some(c.spark.read.parquet(ref))))
    }
    s
  }

  /** Deletes the markers of `Lost` seeded chunks and half of the data
    * files of the first of them. */
  def loseMarkers(out: String, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val chunks = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("_DONE_")).map(_.stripPrefix("_DONE_").toInt).toSeq.sorted
    val lost = rnd.shuffle(chunks).take(Lost)
    lost.foreach(k => Files.delete(Paths.get(out, s"_DONE_$k")))
    lost.headOption.foreach { k =>
      val parts = Files.list(Paths.get(out, s"chunk=$k")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
      parts.take((parts.size + 1) / 2).foreach(Files.delete)
    }
  }
}

/** `dedup_near`: planted near-duplicate clusters through MinHash-LSH
  * verified pairs → connected components → canonical survivors, written
  * as parquet.
  *
  * Why: the extraction kernel is bypassed; all the work is the dedup
  * operators' shuffles, joins and iterations. Zipf cluster sizes give a
  * realistic pair-count tail and one hot cluster of exact copies loads a
  * single LSH band bucket (the skew case).
  */
object DedupNear {
  val Docs = 6000
  val Hot = 150

  def run(c: Ctx): Unit = {
    var docs = ""
    c.trace.span("bench", "setup") {
      c.session(4)
      docs = c.fresh("docs")
      c.trace.span("bench", "Gen.dupDocs") {
        c.spark.createDataFrame(Gen.dupDocs(c.o.seed, Docs, Hot)).select("doc_id", "text").write.parquet(docs)
      }
    }
    val items = Docs.toLong
    var out = ""
    // the first warm-up pass runs on a quarter of the docs: its job is
    // codegen and a first round of JIT, and a pass's cost is mostly per
    // job, not per doc
    def timedPass(i: Int, traced: Boolean): Double = {
      out = c.fresh(s"out${i % 2}")
      val input = if (i == -2) c.spark.read.parquet(docs).filter(col("doc_id") < Docs / 4) else c.spark.read.parquet(docs)
      c.pass(traced, "dedup", if (i < 0) "warmup" else "dedup_pass")(pass(c, input, out))
    }
    def check(): Unit = c.trace.span("bench", "check") {
      c.checked("dedup_near", Check.survivors(c.spark.read.parquet(out),
        c.spark.createDataFrame(Gen.dupDocs(c.o.seed, Docs, Hot)).select("doc_id", "exp_canonical")))
    }
    if (!c.o.trace) {
      untraced(c, items, bytes(docs), () => bytes(out))(timedPass(_, true))
      check()
    } else {
      traced(c, items)(timedPass)
      val passes = c.trace.named("dedup_pass")
      c.metrics ++= Layers.spark(c, passes, "pipeline")
      def under(name: String) = passes.flatMap(p => c.trace.all.filter(s => s.parent == p.id && s.name == name))
      def med(name: String) = Ctx.median(under(name).map(_.seconds))
      c.put("dedup.lsh_s", med("Dedup.minhashLshPairsWithSigs"), "s")
      c.put("dedup.components_s", med("Dedup.componentsWithRounds"), "s")
      c.put("dedup.survivors_s", med("Dedup.canonicalFromLabels"), "s")
      c.put("dedup.join_task_skew", Layers.heaviestStageSkew(c.listener.tasksIn(
        under("Dedup.minhashLshPairsWithSigs").flatMap(s => c.trace.subtree(s.id)).toSet)), "ratio")
      val cands = c.trace.span("dedup", "Dedup.minhashLshCandidates") {
        Dedup.minhashLshCandidates(c.spark.read.parquet(docs), "doc_id", "text").count()
      }
      c.put("dedup.candidates", cands.toDouble, "count")
      c.put("dedup.verify_yield", c.metrics("dedup.verified_pairs")._1 / cands, "ratio")
      c.put("dedup.clusters", c.trace.span("bench", "clusters") {
        c.spark.read.parquet(out).select("label").distinct().count().toDouble
      }, "count")
      zeros(c, "kernels.", "pipeline.", "io.")
      check()
    }
  }

  /** One dedup of `docs` into `out`; records pair and round counts. */
  def pass(c: Ctx, docs: DataFrame, out: String): Unit = {
    val pairs = c.trace.span("dedup", "Dedup.minhashLshPairsWithSigs") {
      val (raw, sigs) = Dedup.minhashLshPairsWithSigs(docs, "doc_id", "text")
      val p = raw.select("id_a", "id_b").persist()
      c.put("dedup.verified_pairs", p.count().toDouble, "count")
      sigs.unpersist()
      p
    }
    val labels = c.trace.span("dedup", "Dedup.componentsWithRounds") {
      val (l, rounds) = Dedup.componentsWithRounds(docs.select(col("doc_id").as("id")), pairs)
      c.put("dedup.rounds", rounds.toDouble, "count")
      l
    }
    c.trace.span("dedup", "Dedup.canonicalFromLabels") {
      Dedup.canonicalFromLabels(labels.withColumn("weight", lit(1.0))).write.parquet(out)
    }
    pairs.unpersist()
  }
}
