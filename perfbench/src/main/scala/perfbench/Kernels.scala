package perfbench

import graft.kernels.{Html, Json, Lines, Match, Nms, Order, Segment, Table}
import graft.model.{Ids, LayoutLabel, Turn}
import graft.operators.TextStats
import graft.pipeline.{Extract, ExtractConfig}

/** Single-thread µs/turn of each extraction-kernel stage on a sample of
  * turns. Every stage's inputs are computed once up front the way
  * `Extract.extractTurn` computes them, so each timer covers only that
  * stage's calls. `segment` is reported as its self time (the HTML
  * tokenizer it calls internally is its own stage); `unaccounted` is the
  * whole kernel minus the sum of the stages (assembly, allocation, the
  * projection).
  */
object Kernels {

  private final case class Prepared(
      payload: String, isHtml: Boolean, tool: String,
      cands: IndexedSeq[Nms.Candidate],
      parentBoxes: IndexedSeq[graft.model.BBox], childBoxes: IndexedSeq[graft.model.BBox],
      blockWordBoxes: Array[IndexedSeq[graft.model.BBox]],
      blockTriples: Array[List[(Int, Int, Int)]],
      orderCands: Seq[(String, graft.model.BBox)], pageW: Double, pageH: Double,
      turnKey: (String, Int), spans: Array[(String, Int, Int)], text: String)

  val Stages: Seq[String] = Seq("html_tokenize", "segment", "nms", "match", "order_words",
    "lines", "order_blocks", "table", "json", "ids", "langid")

  private def prepare(t: Turn, cfg: ExtractConfig): Prepared = {
    val payload = if (t.text != null && t.text.nonEmpty) t.text else if (t.tool != null) t.tool else ""
    val seg = Segment.segment(payload)
    val cands = seg.blocks.zipWithIndex.map { case (b, i) => Nms.Candidate(i.toString, b.box, 1.0, b.kind) }
    val surviving = Nms.suppress(cands.toIndexedSeq, cfg.nmsThreshold).map(_.toInt).toSet
    val blocks = seg.blocks.zipWithIndex.filter { case (_, i) => surviving.contains(i) }.map(_._1)
    val words = blocks.flatMap(_.words)
    val parentOf = Array.fill(words.length)(-1)
    Match.matchByIntersection(blocks.map(_.box).toIndexedSeq, words.map(_.box).toIndexedSeq,
      cfg.matchRule, cfg.matchThreshold, maxParentOnly = cfg.maxParentOnly)
      .foreach { case (c, p) => parentOf(c) = p }
    val byBlock = blocks.indices.map(b => words.indices.filter(parentOf(_) == b).map(words(_).box))
      .filter(_.nonEmpty).toArray
    val kept = blocks.indices.filter(i => Segment.isMainContent(blocks(i), cfg.maxLinkDensity))
    val spans = blocks.map(b => (b.kind, b.begin, b.end)) ++
      words.map(w => (LayoutLabel.WORD, w.begin, w.end))
    Prepared(payload, Html.looksLikeHtml(payload), if (t.tool == null) "" else t.tool,
      cands.toIndexedSeq, blocks.map(_.box).toIndexedSeq, words.map(_.box).toIndexedSeq,
      byBlock, byBlock.map(Order.groupWordsIntoLinesIdx), kept.map(i => ("b" + i, blocks(i).box)), seg.pageWidth,
      seg.pageHeight, (t.conv_id, t.turn_idx), spans,
      Extract.extractTurn(t, cfg).extractedText)
  }

  /** Time `body` over the whole sample, repeated until at least
    * `minSeconds` have passed; returns µs per turn. */
  private def timeStage(n: Int, minSeconds: Double)(body: => Unit): Double = {
    var reps = 0
    val t0 = System.nanoTime()
    var el = 0L
    while (reps == 0 || el < minSeconds * 1e9) {
      body
      reps += 1
      el = System.nanoTime() - t0
    }
    el / 1e3 / reps / n
  }

  /** µs/turn per stage, plus `extract_turn` (the whole kernel) and
    * `unaccounted`. */
  def measure(sample: Seq[Turn], minSeconds: Double): Map[String, Double] = {
    val cfg = ExtractConfig()
    val prep = sample.map(prepare(_, cfg)).toArray
    val n = prep.length
    var sink = 0L
    def round(budget: Double): Map[String, Double] = Map(
        "html_tokenize" -> timeStage(n, budget) {
          prep.foreach(p => if (p.isHtml) sink += Html.tokenize(p.payload).length) },
        "segment_total" -> timeStage(n, budget) {
          prep.foreach(p => sink += Segment.segment(p.payload).blocks.length) },
        "nms" -> timeStage(n, budget) {
          prep.foreach(p => sink += Nms.suppress(p.cands, cfg.nmsThreshold).length) },
        "match" -> timeStage(n, budget) {
          prep.foreach(p => sink += Match.matchByIntersection(p.parentBoxes, p.childBoxes,
            cfg.matchRule, cfg.matchThreshold, maxParentOnly = cfg.maxParentOnly).length) },
        "order_words" -> timeStage(n, budget) {
          prep.foreach(_.blockWordBoxes.foreach(b => sink += Order.groupWordsIntoLinesIdx(b).length)) },
        "lines" -> timeStage(n, budget) {
          prep.foreach(p => p.blockWordBoxes.indices.foreach(b => sink += Lines.createLinesIdx(
            p.blockWordBoxes(b), p.pageW, p.pageH, makeSubLines = true, cfg.paragraphBreak,
            precomputedOrder = p.blockTriples(b)).length)) },
        "order_blocks" -> timeStage(n, budget) {
          prep.foreach(p => sink += Order.orderBlocks(p.orderCands, p.pageW, p.pageH,
            cfg.startingPointTolerance, cfg.brokenLineTolerance, cfg.heightTolerance).length) },
        "table" -> timeStage(n, budget) {
          prep.foreach(p => if (p.payload.contains("<table")) sink += Table.parseTables(p.payload).length) },
        "json" -> timeStage(n, budget) {
          prep.foreach(p => if (p.tool.nonEmpty) sink += Json.toolText(p.tool).length) },
        "ids" -> timeStage(n, budget) {
          prep.foreach { p =>
            val turnId = Ids.turnId(p.turnKey._1, p.turnKey._2)
            val b = new Ids.AnnIdBuilder(turnId)
            p.spans.foreach { case (k, s, e) => sink += b.annId(k, s, e).length }
          } },
        "langid" -> timeStage(n, budget) {
          prep.foreach(p => sink += TextStats.langIdScala(p.text).length) },
        "extract_turn" -> timeStage(n, budget) {
          sample.foreach(t => sink += Extract.extractTurn(t, cfg).metrics.wordCount) })
    round(minSeconds / 4) // lets the JIT settle before the timed round
    val r = round(minSeconds)
    if (sink == 42L) System.err.println("") // keeps every result live
    val stages = (r - "segment_total" - "extract_turn") +
      ("segment" -> math.max(0.0, r("segment_total") - r("html_tokenize")))
    stages + ("extract_turn" -> r("extract_turn")) +
      ("unaccounted" -> (r("extract_turn") - Stages.map(stages).sum))
  }
}
