package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Turns

/** Seeded input generators. Every row is a pure function of the seed,
  * drawn in the Spark driver in a fixed order, so the same seed gives the
  * same rows (and the same [[digest]]) on any machine. The engine only
  * ever sees the generated rows; each row's expected output travels in a
  * separate frame that the checks read after the timed interval.
  */
object Gen {

  /** One generated source document (the `documents` schema that
    * [[Turns.CoreSql]] templates into transcript turns). */
  final case class Doc(doc_id: Long, text: String, lang: String, source: String)

  /** A long multi-block tool page with its own closed-form expectation. */
  final case class Page(conv_id: String, turn_idx: Int, role: String, text: String,
      tool: String, exp_text: String, exp_words: Int, exp_kept: Int, exp_dropped: Int)

  /** A planted dedup document and the canonical id its cluster must get. */
  final case class DupDoc(doc_id: Long, text: String, exp_canonical: Long)

  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  private def vocabulary(rnd: SplittableRandom, n: Int): Array[String] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 1 + rnd.nextInt(8)
      seen += (0 until len).map(_ => letters.charAt(rnd.nextInt(26))).mkString
    }
    seen.toArray
  }

  private def sentence(rnd: SplittableRandom, vocab: Array[String], lo: Int, hi: Int): String =
    (0 until lo + rnd.nextInt(hi - lo + 1)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")

  /** `n` documents of 8–90 single-space-separated lowercase words over a
    * seeded 48-word vocabulary (the shape of the sf0.1 `documents`
    * table: ~50 words from a small vocabulary, five languages, twenty
    * sources). Words are plain letters, so every template's closed-form
    * expectation in [[Turns]] holds. */
  def docs(seed: Long, n: Int): Seq[Doc] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val vocab = vocabulary(rnd, 48)
    (0 until n).map { i =>
      Doc(i.toLong, sentence(rnd, vocab, 8, 90), Langs(rnd.nextInt(Langs.length)),
        s"src${rnd.nextInt(20)}")
    }
  }

  /** `n` long tool pages: chrome (nav + footer, dropped), a heading, 60
    * paragraphs of 4–24 words in normal flow and a 2×2 table after every
    * eighth paragraph (cells dropped). Expected text is the heading and the
    * paragraphs in document order; every word of the body (chrome and
    * cells included) is counted. */
  def pages(seed: Long, n: Int): Seq[Page] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val vocab = vocabulary(rnd, 48)
    (0 until n).map { i =>
      val paras = (0 until 60).map(_ => sentence(rnd, vocab, 4, 24))
      val tables = paras.length / 8
      val body = new StringBuilder("<html><head><title>Tool page</title></head><body>")
      body ++= """<nav><a href="#">Home</a> <a href="#">Docs</a> <a href="#">About</a></nav>"""
      body ++= s"<h1>Page $i</h1>"
      paras.zipWithIndex.foreach { case (p, j) =>
        body ++= s"<p>$p</p>"
        if (j % 8 == 7) body ++= "<table><tr><td>k1</td><td>v1</td></tr><tr><td>k2</td><td>v2</td></tr></table>"
      }
      body ++= """<footer><a href="#">Contact</a> imprint</footer></body></html>"""
      val words = paras.map(_.count(_ == ' ') + 1).sum
      Page(s"conv-page-${i % 7}", i / 7, "tool", body.toString, "",
        (s"Page $i" +: paras).mkString("\n"), 5 + 2 + words + 4 * tables,
        1 + paras.length, 2 + 4 * tables)
    }
  }

  /** Columns of the engine's input table. */
  val TurnCols: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
  /** Columns of the expectation table, keyed like the output. */
  val ExpCols: Seq[String] = Seq("conv_id", "turn_idx", "exp_text", "exp_words", "exp_kept", "exp_dropped")

  /** Transcript turns: `docs` templated by the engine's own
    * [[Turns.CoreSql]] (12 templates, 40% of turns in `conv-big`), plus
    * `pages` long tool pages in seven conversations of their own.
    * Returns (turns, expectations). */
  def turns(spark: SparkSession, seed: Long, nDocs: Int, nPages: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    docs(seed, nDocs).toDF().createOrReplaceTempView("documents")
    val templated = spark.sql(s"""SELECT *, ${Turns.ExpectedExtractedSql} AS exp_text,
        ${Turns.ExpectedWordCountSql} AS exp_words, ${Turns.ExpectedBlocksKeptSql} AS exp_kept,
        ${Turns.ExpectedBlocksDroppedSql} AS exp_dropped FROM (${Turns.CoreSql})""")
      .withColumn("ts", timestamp_seconds(lit(1767225600L) + col("doc_id")))
    val pg = pages(seed, nPages).toDF()
      .withColumn("ts", timestamp_seconds(lit(1767225600L) + col("turn_idx")))
    val all = templated.select((TurnCols ++ ExpCols.drop(2)).map(col): _*)
      .unionByName(pg.select((TurnCols ++ ExpCols.drop(2)).map(col): _*))
    (all.select(TurnCols.map(col): _*), all.select(ExpCols.map(col): _*))
  }

  /** Planted near-duplicate corpus of about `n` docs. Cluster sizes are
    * Zipf(1.1) over 1..16 (size 1 = a singleton), drawn from a fixed
    * stream so every seed plants the same sizes; one hot cluster holds
    * `hot` exact copies. A cluster's first member is its source text of
    * 56 random 6-letter words; every other member replaces the same
    * seeded word of it with a random one (a template with one varying
    * field), so any two members differ in one word (char-3-shingle
    * Jaccard ≈ 0.95, far above the 0.8 verify threshold) and every pair
    * of a cluster is verified: each cluster is a clique, and the
    * components take 2 rounds on every seed. (With a random word per
    * member, two members differ in two words, about one pair in 200
    * falls under the threshold on its 64-hash estimate, and whether a
    * missed pair touches a cluster's minimum id, adding a third round,
    * changed from seed to seed.) Different clusters share shingles only
    * by chance. Ids are a seeded permutation, so the canonical id
    * (the cluster's minimum id under equal weights) is not positional.
    */
  def dupDocs(seed: Long, n: Int, hot: Int): Seq[DupDoc] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val zipf = {
      val w = (1 to 16).map(k => 1.0 / math.pow(k, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def word(): String = (0 until 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val clusters = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var total = 0
    def plant(size: Int, exact: Boolean): Unit = {
      val src = Array.fill(56)(word())
      val slot = rnd.nextInt(src.length)
      clusters += src.mkString(" ") +: (1 until size).map { _ =>
        if (exact) src.mkString(" ") else src.updated(slot, word()).mkString(" ")
      }
      total += size
    }
    plant(hot, exact = true)
    val sizes = new SplittableRandom(0x5EED)
    while (total < n) {
      val u = sizes.nextDouble()
      plant(math.min(zipf.indexWhere(_ >= u) + 1, n - total), exact = false)
    }
    val ids = (0L until total.toLong).toArray
    var i = ids.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    var next = 0
    clusters.toSeq.flatMap { texts =>
      val mine = ids.slice(next, next + texts.length)
      next += texts.length
      texts.zip(mine).map { case (t, id) => DupDoc(id, t, mine.min) }
    }
  }

  /** SHA-256 over rows in their generated order — two generations are
    * byte-identical iff their digests match. */
  def digest(rows: Iterator[Product]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.productIterator.mkString("\u0001").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
