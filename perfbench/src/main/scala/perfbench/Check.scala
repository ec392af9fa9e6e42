package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks, run after the timed interval. Each compares the
  * engine's output with the generator's closed-form expectation, item by
  * item, and counts every failing item; nothing is filtered out first.
  */
object Check {

  final case class Result(attempted: Long, failed: Long, examples: Seq[String])

  private val Keys = Seq("conv_id", "turn_idx")

  /** Null-safe inequality: a null on either side only matches a null, so
    * a null output never passes as a match. */
  private def differs(a: String, b: String) = !(col(a) <=> col(b))

  /** Per-row hash over every output column: two outputs are equal iff
    * their (key, hash) sets are. */
  def rowHashes(out: DataFrame): DataFrame =
    out.select(col("conv_id"), col("turn_idx"), xxhash64(out.columns.map(col): _*).as("h"))

  /** Extracted turns against their expectations (and, when `reference`
    * is given, against the row hashes of an uninterrupted run). A turn
    * fails on a text, word-count or block-count mismatch, a parse
    * failure, a missing or duplicated (conv_id, turn_idx), or a hash
    * that differs from the reference; an output key that was never
    * generated is one more failure. */
  def turns(out: DataFrame, exp: DataFrame, reference: Option[DataFrame] = None): Result = {
    val got = out.select(col("conv_id"), col("turn_idx"), col("extractedText").as("text"),
        col("metrics.wordCount").as("words"), col("metrics.blocksKept").as("kept"),
        col("metrics.blocksDropped").as("dropped"), col("metrics.parseFailed").as("pf"),
        xxhash64(out.columns.map(col): _*).as("h"))
      .groupBy(Keys.map(col): _*)
      .agg(count(lit(1)).as("n"), first("text").as("text"), first("words").as("words"),
        first("kept").as("kept"), first("dropped").as("dropped"), first("pf").as("pf"),
        first("h").as("h"))
    val joined = exp.withColumn("expected", lit(true)).join(got, Keys, "full_outer")
    val j = reference.fold(joined.withColumn("ref_h", col("h")))(r =>
      joined.join(r.withColumnRenamed("h", "ref_h"), Keys, "left_outer"))
    val bad = j.filter(col("expected").isNull || col("n").isNull || col("n") =!= 1 ||
      differs("text", "exp_text") || differs("words", "exp_words") || differs("kept", "exp_kept") ||
      differs("dropped", "exp_dropped") || coalesce(col("pf"), lit(true)) || differs("h", "ref_h"))
    val attempted = exp.count()
    val nBad = bad.count()
    val examples = if (nBad == 0) Nil else bad.limit(3).collect().map { r =>
      s"turn (${r.getAs[String]("conv_id")}, ${r.getAs[Any]("turn_idx")}) n=${r.getAs[Any]("n")} " +
        s"words=${r.getAs[Any]("words")}/${r.getAs[Any]("exp_words")} " +
        s"kept=${r.getAs[Any]("kept")}/${r.getAs[Any]("exp_kept")} " +
        s"dropped=${r.getAs[Any]("dropped")}/${r.getAs[Any]("exp_dropped")} " +
        s"text_ok=${r.getAs[Any]("text") == r.getAs[Any]("exp_text")}"
    }.toSeq
    Result(attempted, nBad, examples)
  }

  /** Survivor labels against the planted clusters: a doc fails when it is
    * missing or duplicated, its label is not its cluster's canonical id,
    * or its `is_canonical` flag disagrees with that id. */
  def survivors(out: DataFrame, exp: DataFrame): Result = {
    val got = out.groupBy(col("id")).agg(count(lit(1)).as("n"), first("label").as("label"),
      first("is_canonical").as("is_canonical"))
    val j = exp.select(col("doc_id").as("id"), col("exp_canonical"), lit(true).as("expected"))
      .join(got, Seq("id"), "full_outer")
    val bad = j.filter(col("expected").isNull || col("n").isNull || col("n") =!= 1 ||
      differs("label", "exp_canonical") ||
      !(col("is_canonical") <=> (col("id") === col("exp_canonical"))))
    val nBad = bad.count()
    val examples = if (nBad == 0) Nil else bad.limit(3).collect().map { r =>
      s"doc ${r.getAs[Any]("id")} label=${r.getAs[Any]("label")} expected=${r.getAs[Any]("exp_canonical")} " +
        s"n=${r.getAs[Any]("n")}"
    }.toSeq
    Result(exp.count(), nBad, examples)
  }
}
