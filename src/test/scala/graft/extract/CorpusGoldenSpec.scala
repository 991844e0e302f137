package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Corpus-wide byte-identity golden: one MD5 over EVERY field of
  * `Extractor.extract` for the first 2000 synthetic pages of seed 42,
  * which covers every page family many times over. GoldenSnapshotSpec
  * pins a dozen rows field by field; this pins the whole kernel
  * (tokenizer, DOM, segmenter, serializer, postprocess, span reinsert)
  * on every family at once. The value was recorded before the kernel's
  * layer-by-layer rewrite; a kernel optimisation must leave it as is.
  */
class CorpusGoldenSpec extends AnyFunSuite {

  private val Pages = 2000
  private val Golden = "be8d828051b741d6f734811357a7b133"

  /** Length-prefixed fields, so no two different docs feed the same bytes. */
  private def docDigest(docs: Iterator[graft.core.ExtractedDoc]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def str(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      int(b.length); md.update(b)
    }
    def int(v: Int): Unit = {
      md.update((v >>> 24).toByte); md.update((v >>> 16).toByte)
      md.update((v >>> 8).toByte); md.update(v.toByte)
    }
    docs.foreach { d =>
      str(d.url); str(d.markdown)
      int(d.spans.length)
      d.spans.foreach { s => str(s.kind); str(s.id); int(s.start); int(s.end); str(s.body) }
      int(d.blocks_kept); int(d.blocks_dropped)
      val counts = d.span_counts.toSeq.sorted
      int(counts.length)
      counts.foreach { case (k, v) => str(k); int(v) }
      int(if (d.ok) 1 else 0); str(d.error)
      int(d.references.length)
      d.references.foreach { r => str(r.id); str(r.label); str(r.title); str(r.raw) }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  test(s"every field of the first $Pages seed-42 pages extracts byte-identically") {
    val docs = (0 until Pages).iterator.map { i =>
      val p = graft.gen.SyntheticCorpus.pageFor(42L, i.toLong)
      Extractor.extract(p.url, p.html)
    }
    assert(docDigest(docs) == Golden)
  }
}
