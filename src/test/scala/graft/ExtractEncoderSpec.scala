package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{InputAdapter, SerializeFromObjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{ExtractedTurn, Turn}
import graft.pipeline.{Extract, ExtractConfig}
import graft.sources.Turns

/** The extraction output encoder ([[Extract.encoder]]): same rows as
  * the stock `ExpressionEncoder[ExtractedTurn]`, a serializer that
  * stays out of whole-stage codegen, and no generated method past
  * HotSpot's 8,000-byte JIT limit on the full-output write.
  */
class ExtractEncoderSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  /** A page that fails only through the sequence classifier, which runs
    * inside the kernel's quarantine: the row comes back parse-failed. */
  private val FailMarker = "<p>QUARANTINE-ME</p>"
  private val cfg = ExtractConfig(sequenceClassifier =
    Some(t => if (t.contains("QUARANTINE-ME")) throw new IllegalStateException("boom") else ""))

  /** Hostile payloads after ExtractFuzzSpec (smaller depths: the point
    * here is the encoding of whatever the kernel returns), parse
    * failures, and null role / tool / ts. */
  private def hostileTurns(): Seq[Turn] = {
    val ts = new Timestamp(0L)
    val rnd = new java.util.Random(0xF00D)
    val base = "<html><body><nav>menu</nav><div><h1>Header</h1><p>Body text with " +
      "<a href='#'>a link</a> and more words.</p><table><tr><th colspan='2'>H</th></tr>" +
      "<tr><td>a</td><td>b</td></tr></table></div><footer>foot</footer></body></html>"
    val structural = "<>&\"'/= []{}:,".toCharArray
    val mutants = (0 until 40).map { _ =>
      val b = base.toCharArray
      for (_ <- 0 to rnd.nextInt(6)) b(rnd.nextInt(b.length)) = structural(rnd.nextInt(structural.length))
      new String(b)
    }
    val payloads: Seq[(String, String)] = Seq(
      ("<div>" * 20000 + "x", ""),
      (("<table><tr><td>" * 2000) + "x", ""),
      ("text", "[" * 20000 + "\"v\""),
      ("<p>" + "&amp;&lt;&#65;&#x1F600;" * 500 + "</p>", ""),
      ("<a href='x'><b><i>" * 2000 + "word", ""),
      (new String(Array.tabulate[Char](4096)(i => i.toChar)), "{\"k\":\"v\"}"),
      ("a\ud800b \udc00c", "{\"k\":\"\ud800\"}"),
      (FailMarker, ""),
      ("<p>fails too</p>" + FailMarker, """{"tool":"x"}"""),
      ("", ""),
      (null, null)
    ) ++ mutants.map(m => (m, """{"name":"search","args":{"q":"query text","k":5}}"""))
    payloads.zipWithIndex.map { case ((text, tool), i) =>
      // every third turn has null role and ts
      if (i % 3 == 0) Turn("conv-hostile", i, null, text, tool, null)
      else Turn("conv-hostile", i, "assistant", text, tool, ts)
    }
  }

  private def stockRows(turns: Dataset[Turn]): Array[Row] = {
    val c = cfg // the closure must not capture the suite
    turns.mapPartitions(_.map(t => Extract.extractTurn(t, c)))(ExpressionEncoder[ExtractedTurn]())
      .toDF().collect().sortBy(r => (r.getString(0), r.getInt(1)))
  }

  private def encoderRows(turns: Dataset[Turn]): Array[Row] =
    Extract.run(turns, cfg).toDF().collect().sortBy(r => (r.getString(0), r.getInt(1)))

  private def assertSameRows(a: Array[Row], b: Array[Row]): Unit = {
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x == y, s"row (${x.get(0)}, ${x.get(1)}) differs between the encoders")
    }
  }

  test("encoder parity: the fixture corpus encodes row for row as with the stock encoder") {
    val turns = Turns.synth(spark, TestSpark.sfDir)
    assert(Extract.encoder.schema == ExpressionEncoder[ExtractedTurn]().schema)
    val got = encoderRows(turns)
    assert(got.length == 500)
    assertSameRows(got, stockRows(turns))
  }

  test("encoder parity: hostile payloads, parse failures and null role/ts") {
    import spark.implicits._
    val turns = hostileTurns().toDS()
    val got = encoderRows(turns)
    assertSameRows(got, stockRows(turns))
    val failed = got.filter(_.getAs[Row]("metrics").getAs[Boolean]("parseFailed"))
    assert(failed.length == 2, "the two QUARANTINE-ME pages are parse-failure rows")
    assert(failed.forall(_.getAs[Seq[Row]]("blocks").isEmpty))
    assert(got.exists(r => r.isNullAt(r.fieldIndex("role")) && r.isNullAt(r.fieldIndex("ts"))))
  }

  private def serializers(plan: SparkPlan): (Seq[SerializeFromObjectExec], Seq[SerializeFromObjectExec]) = {
    val all = collect(plan) { case s: SerializeFromObjectExec => s }
    // the operators compiled into one stage: its tree down to the
    // InputAdapters where the stage reads its input rows
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(stage)
    }
    val fused = collect(plan) { case w: WholeStageCodegenExec => w }
      .flatMap(w => stage(w.child)).collect { case s: SerializeFromObjectExec => s }
    (all, fused)
  }

  test("plan: the full-output serializer is not fused; a narrow select is pruned and stays fused") {
    val full = Extract.run(Turns.synth(spark, TestSpark.sfDir)).toDF()
    full.collect()
    val (all, fused) = serializers(full.queryExecution.executedPlan)
    assert(all.size == 1, full.queryExecution.executedPlan.toString)
    assert(all.head.serializer.size == 14)
    assert(fused.isEmpty, s"SerializeFromObject must not be fused:\n${full.queryExecution.executedPlan}")

    val narrow = Extract.run(Turns.synth(spark, TestSpark.sfDir)).select("extractedText")
    narrow.collect()
    val (nAll, nFused) = serializers(narrow.queryExecution.executedPlan)
    assert(nAll.size == 1)
    // observe() reads metrics.*, so the serializer keeps those fields
    // beside extractedText; every nested array field is pruned away
    val kept = nAll.head.serializer.map(_.name).toSet
    assert(kept.contains("extractedText") && kept.size < 14, kept.toString)
    assert(Set("blocks", "words", "lines", "tables").intersect(kept).isEmpty, kept.toString)
    assert(nFused.size == 1, s"a pruned serializer stays in whole-stage codegen:\n${narrow.queryExecution.executedPlan}")
  }

  /** Captures the CodeGenerator logger's messages. */
  private final class Capture extends AbstractAppender(
      "graft-codegen-capture", null, null, true, Property.EMPTY_ARRAY) {
    val messages = new ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit = messages.add(e.getMessage.getFormattedMessage)
  }

  test("codegen guard: the full-output write generates no method too long to be JIT compiled") {
    // session first: Spark's first log call may reconfigure log4j,
    // which would drop an appender attached before it
    val turns = Turns.synth(spark, TestSpark.sfDir)
    val name = CodeGenerator.getClass.getName.stripSuffix("$")
    val logger = LogManager.getLogger(name).asInstanceOf[CoreLogger]
    val before = logger.getLevel
    val capture = new Capture
    capture.start()
    logger.addAppender(capture)
    Configurator.setLevel(name, Level.INFO)
    // Spark caches compiled classes JVM-wide; drop them so this write
    // compiles (and logs) every class it runs, whatever ran before
    val cacheAccessor = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheAccessor.setAccessible(true)
    val cache = cacheAccessor.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val out = java.nio.file.Files.createTempDirectory("graft_codegen_guard").toString
    try {
      Extract.run(turns).write.mode("overwrite").parquet(out)
    } finally {
      logger.removeAppender(capture)
      Configurator.setLevel(name, before)
      capture.stop()
    }
    val msgs = capture.messages.asScala.toSeq
    assert(msgs.exists(_.startsWith("Code generated in")), "the write compiled no class: guard not armed")
    val tooLong = msgs.filter(_.contains("too long to be JIT compiled"))
    assert(tooLong.isEmpty, tooLong.mkString("\n"))
  }
}
