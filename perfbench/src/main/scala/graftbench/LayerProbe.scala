package graftbench

import graft.core.ExtractedDoc
import graft.extract.{BlockSegmenter, CharsetSniff, DocBudget, Extractor, MarkdownSerializer, SpanReinserter}
import graft.html.{DomElem, DomNode, DomBuilder, HtmlTokenizer}
import graft.post.Postprocess
import java.nio.charset.StandardCharsets.UTF_8

/** Single-thread pass over a page sample that calls the extractor's
  * layers one by one, in the order `Extractor.extract` calls them, and
  * records one span per layer call. Each document's layer output is
  * checked against `Extractor.extract` on the same page, so the layered
  * pass can never measure something the real extractor does not do.
  */
object LayerProbe {

  /** The seven layers, in call order: the metric name of each. */
  val Layers: IndexedSeq[String] = IndexedSeq(
    "extract.decode_s", "html.tokenize_s", "html.dom_s", "extract.segment_s",
    "extract.serialize_s", "post.postprocess_s", "extract.reinsert_s")

  final case class Pass(layerNs: Array[Long], docNs: Array[Long], totalNs: Long)

  final case class Counts(tokens: Long, domNodes: Long, blocksKept: Long, blocksDropped: Long,
                          spans: Long, htmlBytes: Long, mdBytes: Long,
                          repetitionTruncated: Long, slicesRemoved: Long, mismatches: Long)

  private def domNodes(n: DomNode): Long = n match {
    case e: DomElem => 1L + e.children.iterator.map(domNodes).sum
    case _ => 1L
  }

  /** One pass over `pages`. Spans go to `trace` under a per-pass root
    * span; `run` numbers the documents across passes. Counts and the
    * check against `Extractor.extract` are taken only when `counts` is
    * set, outside the timed region of each document. */
  def pass(pages: IndexedSeq[(String, Array[Byte])], trace: Trace, parent: Int,
           runBase: Long, counts: Option[Counts => Unit],
           serialized: Option[Array[String]] = None): Pass = {
    val cfg = Extractor.default
    val ids = Layers.map(trace.nameId)
    val docId = trace.nameId("extract.doc")
    val layerNs = new Array[Long](Layers.length)
    val docNs = new Array[Long](pages.length)
    var tokens, nodes, kept, dropped, spansN, htmlB, mdB, rep, slices, bad = 0L
    val t = new Array[Long](8)
    val t0 = System.nanoTime()
    var d = 0
    while (d < pages.length) {
      val (url, bytes) = pages(d)
      t(0) = System.nanoTime()
      DocBudget.begin(cfg.timeoutMillis)
      val html = CharsetSniff.decode(bytes).text.replace('\u00A0', ' ')
      t(1) = System.nanoTime()
      val toks = HtmlTokenizer.tokenize(html, cfg.maxTokens)
      t(2) = System.nanoTime()
      val dom = DomBuilder.build(toks, cfg.maxDomDepth, cfg.maxDomNodes)
      t(3) = System.nanoTime()
      val seg = BlockSegmenter.segment(dom)
      t(4) = System.nanoTime()
      val ser = MarkdownSerializer.serialize(seg.blocks)
      t(5) = System.nanoTime()
      val post = Postprocess.postprocessSingle(ser.markdown, cfg.markdownFix)
      t(6) = System.nanoTime()
      val (md, spans) = SpanReinserter.reinsert(post.text, ser.bodies)
      t(7) = System.nanoTime()
      DocBudget.clear()
      val end = System.nanoTime()
      docNs(d) = end - t(0)
      val run = runBase + d
      val doc = trace.add(docId, t(0), end, parent, run)
      var k = 0
      while (k < 7) {
        layerNs(k) += t(k + 1) - t(k)
        trace.add(ids(k), t(k), t(k + 1), doc, run)
        k += 1
      }
      serialized.foreach(_(d) = ser.markdown)
      if (counts.isDefined) {
        tokens += toks.length; nodes += domNodes(dom)
        kept += seg.stats.blocksKept; dropped += seg.stats.blocksDropped
        spansN += spans.length; htmlB += bytes.length; mdB += md.getBytes(UTF_8).length
        if (post.repetitionTruncated) rep += 1
        slices += post.slicesRemoved
        val ref: ExtractedDoc = Extractor.extract(url, bytes)
        if (!ref.ok || ref.markdown != md || ref.spans != spans) bad += 1
      }
      d += 1
    }
    val total = System.nanoTime() - t0
    counts.foreach(_(Counts(tokens, nodes, kept, dropped, spansN, htmlB, mdB, rep, slices, bad)))
    Pass(layerNs, docNs, total)
  }

  /** Standalone time of one postprocess stage over serialized pages. */
  def timeStage(mds: Array[String])(f: String => Any): Long = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < mds.length) { f(mds(i)); i += 1 }
    System.nanoTime() - t0
  }
}
