package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Turn
import graft.pipeline.Extract

/** The benchmark's own tests, on small inputs:
  *  - the same seed gives byte-identical inputs, another seed does not;
  *  - every planted dedup cluster comes out as a verified clique;
  *  - the checks pass on the engine's real output and catch each kind of
  *    corruption (wrong or null text, dropped turn, duplicated turn, a
  *    row that differs from the reference run, a wrong or null dedup
  *    label);
  *  - the `Extract.run` observation counts of two runs with the same
  *    seed match exactly, and match the generator's expectations.
  * Returns the names of the failed tests.
  */
object SelfTest {

  def run(c: Ctx): Seq[String] = {
    val results = Seq.newBuilder[(String, Boolean)]
    def test(name: String)(ok: => Boolean): Unit = {
      val r = scala.util.Try(ok).recover { case e => System.err.println(s"[selftest] $name: $e"); false }.get
      println(s"selftest $name: ${if (r) "ok" else "FAIL"}")
      results += name -> r
    }
    val spark = c.session(2)
    import spark.implicits._

    def turnRows(seed: Long): Seq[Product] = {
      val (t, _) = Gen.turns(spark, seed, 600, 6)
      t.as[Turn].collect().sortBy(r => (r.conv_id, r.turn_idx)).toSeq
    }
    test("same seed gives byte-identical turns") {
      val a = Gen.digest(turnRows(7).iterator)
      a == Gen.digest(turnRows(7).iterator) && a != Gen.digest(turnRows(8).iterator)
    }
    test("same seed gives byte-identical dedup docs") {
      val a = Gen.digest(Gen.dupDocs(7, 3000, 50).iterator)
      a == Gen.digest(Gen.dupDocs(7, 3000, 50).iterator) && a != Gen.digest(Gen.dupDocs(8, 3000, 50).iterator)
    }

    val (t, e) = Gen.turns(spark, 7, 600, 6)
    val turnsDir = c.fresh("st-turns")
    t.write.parquet(turnsDir)
    val exp = e.cache()
    val expCount = exp.count()
    def extracted(): DataFrame = Extract.run(spark.read.parquet(turnsDir).as[Turn]).toDF()
    val out = extracted().cache()
    def failed(df: DataFrame, ref: Option[DataFrame] = None) = Check.turns(df, exp, ref).failed
    test("turn check passes on engine output")(failed(out) == 0 && expCount == 606)
    test("turn check catches wrong text") {
      failed(out.withColumn("extractedText",
        when(col("turn_idx") === 3 && col("conv_id") === "conv-big", lit("wrong")).otherwise(col("extractedText")))) == 1
    }
    test("turn check catches a null text") {
      failed(out.withColumn("extractedText",
        when(col("turn_idx") === 3 && col("conv_id") === "conv-big", lit(null).cast("string"))
          .otherwise(col("extractedText")))) == 1
    }
    test("turn check catches a dropped turn") {
      failed(out.filter(!(col("turn_idx") === 3 && col("conv_id") === "conv-big"))) == 1
    }
    test("turn check catches a duplicated turn") {
      failed(out.unionByName(out.filter(col("turn_idx") === 3 && col("conv_id") === "conv-big"))) == 1
    }
    test("turn check catches a row that differs from the reference run") {
      val ref = Check.rowHashes(out)
      failed(out, Some(ref)) == 0 &&
        failed(out.withColumn("lang", when(col("turn_idx") === 5, lit("xx")).otherwise(col("lang"))), Some(ref)) > 0
    }

    test("observation counts repeat exactly and match the expectations") {
      def obs(): Map[String, Long] = {
        c.drain()
        val from = c.observed.size
        Workload.noop(extracted())
        c.drain()
        import scala.jdk.CollectionConverters._
        c.observed.asScala.toSeq.drop(from).map(_._2).reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
      }
      val a = obs()
      val sums = exp.agg(sum("exp_words"), sum("exp_kept"), sum("exp_dropped")).head()
      a == obs() && a("turns") == expCount && a("words") == sums.getLong(0) &&
        a("blocks_kept") == sums.getLong(1) && a("blocks_dropped") == sums.getLong(2) && a("parse_failures") == 0
    }

    val docs = Gen.dupDocs(7, 3000, 50).toDF()
    val dedupOut = c.fresh("st-surv")
    DedupNear.pass(c, docs.select("doc_id", "text"), dedupOut)
    val surv = spark.read.parquet(dedupOut).cache()
    val dexp = docs.select("doc_id", "exp_canonical")
    test("dedup check passes on engine output")(Check.survivors(surv, dexp).failed == 0)
    test("every planted cluster is a verified clique, so components take 2 rounds") {
      val clique = docs.groupBy("exp_canonical").count().as[(Long, Long)].collect()
        .map { case (_, n) => n * (n - 1) / 2 }.sum
      c.metrics("dedup.verified_pairs")._1 == clique && c.metrics("dedup.rounds")._1 == 2
    }
    test("dedup check catches a wrong label") {
      val victim = surv.filter(!col("is_canonical")).head().getAs[Long]("id")
      Check.survivors(surv.withColumn("label",
        when(col("id") === victim, col("label") + 1).otherwise(col("label"))), dexp).failed == 1
    }
    test("dedup check catches a null label") {
      val victim = surv.filter(!col("is_canonical")).head().getAs[Long]("id")
      Check.survivors(surv.withColumn("label",
        when(col("id") === victim, lit(null).cast("long")).otherwise(col("label"))), dexp).failed == 1
    }
    test("dedup check catches a dropped doc") {
      Check.survivors(surv.filter(col("id") =!= 0L), dexp).failed == 1
    }
    results.result().collect { case (n, false) => n }
  }
}
