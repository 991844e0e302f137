package graft.extract

import scala.collection.mutable.ArrayBuffer

/** Block AST → markdown with structural spans.
  *
  * Re-expression of `format_element`/`format_document`
  * (/root/reference/nougat/dataset/parser/markdown.py:98-327,367-396).
  * Span bodies (math/table/figure/footnote) are emitted as opaque
  * control-char markers `\uE000<idx>\uE001` (private-use chars, stripped from input text by the tokenizer so they can never collide) with bodies in a side vector
  * — the analog of the reference's span-marker + figures-dict design
  * (markdown.py:391-395) — so the postprocess stages never rewrite span
  * interiors; `SpanReinserter` splices bodies back and computes final
  * [start,end) offsets per the north rule.
  */
object MarkdownSerializer {

  final case class SpanBody(kind: String, id: String, body: String)
  final case class Serialized(markdown: String, bodies: Vector[SpanBody],
                              refs: Vector[graft.core.RefEntry] = Vector.empty)

  private val supMap: Map[Char, Char] = Map(
    '0' -> '⁰', '1' -> '¹', '2' -> '²', '3' -> '³', '4' -> '⁴',
    '5' -> '⁵', '6' -> '⁶', '7' -> '⁷', '8' -> '⁸', '9' -> '⁹',
    '+' -> '⁺', '-' -> '⁻', '=' -> '⁼', '(' -> '⁽', ')' -> '⁾', 'n' -> 'ⁿ', 'i' -> 'ⁱ')
  private val subMap: Map[Char, Char] = Map(
    '0' -> '₀', '1' -> '₁', '2' -> '₂', '3' -> '₃', '4' -> '₄',
    '5' -> '₅', '6' -> '₆', '7' -> '₇', '8' -> '₈', '9' -> '₉',
    '+' -> '₊', '-' -> '₋', '=' -> '₌', '(' -> '₍', ')' -> '₎')

  def serialize(blocks: Vector[Block]): Serialized = {
    val bodies = new ArrayBuffer[SpanBody](8)
    val footnotes = new ArrayBuffer[(String, String)](4)
    val refs = new ArrayBuffer[graft.core.RefEntry](4)

    def marker(kind: String, id: String, body: String): String = {
      bodies += SpanBody(kind, id, body)
      "\uE000" + (bodies.length - 1) + "\uE001"
    }

    def inl(is: Vector[Inline], spans: Boolean): String = {
      if (is.isEmpty) return ""
      if (is.length == 1) is.head match {
        case ITxt(s) => return collapseWs(s) // a lone text run needs no builder
        case _ => ()
      }
      val sb = new java.lang.StringBuilder(64)
      is.foreach {
        case ITxt(s) => sb.append(collapseWs(s))
        case IBold(c) =>
          val inner = inl(c, spans)
          sb.append(hoist(inner, "**"))
        case IItal(c) =>
          val inner = inl(c, spans)
          sb.append(hoist(inner, "_"))
        case ISup(c) =>
          val inner = inl(c, spans).trim
          if (inner.nonEmpty) {
            if (inner.forall(supMap.contains)) sb.append(inner.map(supMap))
            else sb.append("^{").append(inner).append("}")
          }
        case ISub(c) =>
          val inner = inl(c, spans).trim
          if (inner.nonEmpty) {
            if (inner.forall(subMap.contains)) sb.append(inner.map(subMap))
            else sb.append("_{").append(inner).append("}")
          }
        case ICode(s) =>
          val t = s.trim
          if (t.nonEmpty) sb.append('`').append(t).append('`')
        case ILink(target, c) =>
          val text = inl(c, spans).trim
          if (text.nonEmpty) {
            if (target.startsWith("http://") || target.startsWith("https://"))
              sb.append('[').append(text).append("](").append(target).append(')')
            else sb.append(text)
          }
        case IMath(tex, display, id) =>
          val body = TexNormalizer.normalize(tex, inline = !display)
          if (body.nonEmpty) {
            if (spans) sb.append(marker(if (display) "math_display" else "math_inline", id, body))
            else sb.append(body)
          }
        case IFootnote(id, c) =>
          val body = inl(c, spans = false).trim
          if (body.nonEmpty) {
            footnotes += ((id, body))
            sb.append("[^").append(id).append(']')
          }
        case IRef(_, label) =>
          // inline citation → "[n]" (InlineRef, latexml_parser.py:253-273)
          sb.append('[').append(label).append(']')
      }
      sb.toString
    }

    def list(b: BList, depth: Int): String = {
      val indent = "  " * depth
      val lines = new ArrayBuffer[String](b.items.length)
      var n = 0
      b.items.foreach { item =>
        n += 1
        val bullet = if (b.ordered) s"$n. " else "* "
        var first = true
        item.foreach {
          case nested: BList =>
            val s = list(nested, depth + 1)
            if (s.nonEmpty) lines += s
          case blk =>
            val s = block(blk, depth)
            if (s.nonEmpty) {
              if (first) { lines += indent + bullet + s; first = false }
              else lines += indent + "  " + s
            }
        }
      }
      lines.mkString("\n")
    }

    /** Reference-faithful serialization for tables that carry cell
      * border specs (`ltx_border_*`): \hline/\cline runs from per-cell
      * t/b sizes (document.py:561-597 `_hline`), multirow squaring with
      * the t/b disabling quirk (document.py:643-658), majority column
      * Spec per CELL index with |-borders, and \multicolumn{1}
      * conversion of disagreeing cells (document.py:660-693) — where
      * Spec identity is (l, r, align) ONLY, because the reference
      * compares dataclass reprs and t/b carry repr=False
      * (document.py:399-409). Output pinned byte-exactly against
      * goldens produced by RUNNING the reference's document.py
      * (BorderedTableSpec). Borderless tables keep the legacy
      * markdown-flavoured rendering byte-identical.
      */
    final class GCell(var content: String, var colspan: Int, var multirow: Int,
                      val align: Char, val alignSet: Boolean,
                      var bt: Int, var bb: Int, val bl: Int, val br: Int,
                      var multicol: Boolean) {
      def specKey: (Int, Int, String) = (bl, br, if (alignSet) align.toString else "")
      def specStr: String = "|" * bl + (if (alignSet) align.toString else "c") + "|" * br
      def isMultiTagged: Boolean = colspan > 1 || multirow > 1
    }

    def borderedTable(t: BTable): String = {
      import scala.collection.mutable.ArrayBuffer
      val rows: ArrayBuffer[ArrayBuffer[GCell]] = ArrayBuffer(t.rows.map { row =>
        ArrayBuffer(row.map { c =>
          val content0 = escapeAmp(inl(c.inlines, spans = false).trim)
          val content = if (c.header && content0.nonEmpty) "\\bf " + content0 else content0
          new GCell(content, c.colspan, c.rowspan, c.align, c.alignSet,
            c.bt, c.bb, c.bl, c.br, multicol = false)
        }: _*)
      }: _*)
      // _square_table (document.py:643-658): a multirow master loses its
      // bottom rule; placeholder cells (inserted at the master's CELL
      // index in each spanned row, one per spanned column) copy the spec
      // with t=0 and the master's ORIGINAL b (the copy is taken before
      // the master is zeroed — reference line order)
      var i = 0
      while (i < rows.length) {
        var j = 0
        while (j < rows(i).length) {
          val cell = rows(i)(j)
          if (cell.multirow > 1) {
            val phB = cell.bb
            cell.bb = 0
            var k = i + 1
            while (k < rows.length && k < i + cell.multirow) {
              var n = 0
              while (n < cell.colspan) {
                // Python's list.insert clamps an out-of-range index to
                // append (ragged rows are common in hand-written HTML);
                // ArrayBuffer.insert throws — clamp to match document.py:656
                rows(k).insert(math.min(j, rows(k).length),
                  new GCell("", 1, 1, cell.align, cell.alignSet,
                  0, phB, cell.bl, cell.br, multicol = false))
                n += 1
              }
              k += 1
            }
          }
          j += 1
        }
        i += 1
      }
      // majority Spec per CELL index (document.py:660-675): zip rows by
      // cell position; only plain cells (no colspan/rowspan) with an
      // EXPLICIT align vote; identity is (l, r, align); Python's
      // max(counts, key=get) tie-breaks to the first-inserted key
      val width = rows.map(_.map(_.colspan).sum).maxOption.getOrElse(0)
      val nCellCols = rows.map(_.length).maxOption.getOrElse(0)
      val defaultKey = (0, 0, "")
      val colKeys = Array.fill(math.max(width, nCellCols))(defaultKey)
      var ci = 0
      while (ci < nCellCols) {
        val counts = scala.collection.mutable.LinkedHashMap.empty[(Int, Int, String), Int]
        rows.foreach { r =>
          if (ci < r.length) {
            val c = r(ci)
            if (c.alignSet && !c.isMultiTagged)
              counts.update(c.specKey, counts.getOrElse(c.specKey, 0) + 1)
          }
        }
        if (counts.nonEmpty) {
          var bestK = defaultKey; var bestN = -1
          counts.foreach { case (k, n) => if (n > bestN) { bestK = k; bestN = n } }
          colKeys(ci) = bestK
        }
        ci += 1
      }
      // convert disagreeing cells to \multicolumn{1}{spec} (677-693):
      // contentless cells whose l/r match the column pass through
      ci = 0
      while (ci < nCellCols) {
        rows.foreach { r =>
          if (ci < r.length) {
            val c = r(ci)
            if (c.specKey != colKeys(ci) &&
                !(c.content.isEmpty && c.bl == colKeys(ci)._1 && c.br == colKeys(ci)._2) &&
                c.colspan == 1)
              c.multicol = true
          }
        }
        ci += 1
      }
      def keyStr(k: (Int, Int, String)): String =
        "|" * k._1 + (if (k._3.isEmpty) "c" else k._3) + "|" * k._2
      // " ".join + the two pipe-collapapse regexes (document.py:691-693)
      val specLine = pPipeRight.matcher(
        pPipeLeft.matcher((0 until width).map(c => keyStr(colKeys(c))).mkString(" "))
          .replaceAll("$1$2")).replaceAll("$1$2")
      // per-row \hline/\cline runs (document.py:561-586): expand each
      // cell's t (or b) by its colspan, find the maximal non-zero runs;
      // a run covering the row's whole width emits \hline times the
      // first value (double rules), anything narrower \cline{a-b}
      def hline(row: ArrayBuffer[GCell], f: GCell => Int): String = {
        val lines = row.toSeq.flatMap(c => Seq.fill(c.colspan)(f(c)))
        val rowWidth = lines.length
        val runs = ArrayBuffer.empty[(Int, Int)]
        var start = -1
        var p = 0
        while (p <= rowWidth) {
          val v = if (p < rowWidth) lines(p) else 0
          if (v != 0 && start < 0) start = p
          else if (start >= 0 && v == 0) { runs += ((start, p - 1)); start = -1 }
          p += 1
        }
        runs.map { case (a, b) =>
          if (b - a + 1 == rowWidth) "\\hline " * lines(0)
          else s"\\cline{${a + 1}-${b + 1}} "
        }.mkString.trim
      }
      def fmtCell(c: GCell): String = {
        var s = c.content
        if (c.multirow > 1) s = s"\\multirow{${c.multirow}}{*}{$s}"
        if (c.colspan > 1 || c.multicol) s = s"\\multicolumn{${c.colspan}}{${c.specStr}}{$s}"
        s
      }
      val sb = new java.lang.StringBuilder(256)
      sb.append("\\begin{table}\n\\begin{tabular}{").append(specLine).append("}\n")
      rows.foreach { row =>
        val above = hline(row, _.bt)
        val below = hline(row, _.bb)
        if (above.nonEmpty) sb.append(above).append('\n')
        sb.append(row.map(fmtCell).mkString(" & ")).append(" \\\\")
        if (below.nonEmpty) sb.append(' ').append(below)
        sb.append('\n')
      }
      sb.append("\\end{tabular}\n\\end{table}")
      val cap = inl(t.caption, spans = false).trim
      if (cap.nonEmpty) sb.append('\n').append(cap)
      sb.toString
    }

    def tableBody(t: BTable): String = {
      // any cell-border spec switches to the reference-faithful
      // \hline/\cline serialization; borderless HTML keeps the legacy
      // markdown-flavoured form byte-identical
      if (t.rows.exists(_.exists(c => c.bt > 0 || c.bb > 0 || c.bl > 0 || c.br > 0)))
        return borderedTable(t)
      // column count = max expanded width (document.py:604-697 _square_table analog)
      val ncols = t.rows.map(_.map(_.colspan).sum).maxOption.getOrElse(0).min(64)
      // majority alignment per column (document.py:660-693)
      val votes = Array.fill(ncols)(scala.collection.mutable.Map.empty[Char, Int])
      t.rows.foreach { row =>
        var ci = 0
        row.foreach { c =>
          if (c.colspan == 1 && ci < ncols) {
            val m = votes(ci); m(c.align) = m.getOrElse(c.align, 0) + 1
          }
          ci += c.colspan
        }
      }
      val spec = votes.map { m =>
        if (m.isEmpty) 'l'
        else m.toSeq.sortBy { case (ch, n) => (-n, ch) }.head._1
      }.mkString
      val sb = new java.lang.StringBuilder(256)
      sb.append("\\begin{table}\n\\begin{tabular}{").append(spec).append("}\n")
      // square the table: a rowspan>1 cell occupies its columns in the
      // following rows as empty placeholder cells (document.py:604-659
      // _square_table semantics)
      val pending = new Array[Int](ncols.max(1)) // remaining rows owed per column
      var ri = 0
      t.rows.foreach { row =>
        val cells = scala.collection.mutable.ArrayBuffer.empty[String]
        var ci = 0
        def fillPlaceholders(): Unit =
          while (ci < ncols && pending(ci) > 0) { pending(ci) -= 1; cells += ""; ci += 1 }
        row.foreach { c =>
          fillPlaceholders()
          // escape bare '&' in cell prose: it is the tabular column
          // separator (latex_escape analog, markdown.py:18-36)
          val content0 = escapeAmp(inl(c.inlines, spans = false).trim)
          val content = if (c.header && content0.nonEmpty) "\\bf " + content0 else content0
          val withRs = if (c.rowspan > 1) s"\\multirow{${c.rowspan}}{*}{$content}" else content
          cells += (if (c.colspan > 1) s"\\multicolumn{${c.colspan}}{${c.align}}{$withRs}" else withRs)
          var k = 0
          while (k < c.colspan && ci < ncols) {
            if (c.rowspan > 1) pending(ci) = c.rowspan - 1
            ci += 1; k += 1
          }
        }
        fillPlaceholders()
        sb.append(cells.mkString(" & ")).append(" \\\\")
        if (ri == 0 && row.forall(_.header)) sb.append("\n\\hline")
        sb.append('\n')
        ri += 1
      }
      sb.append("\\end{tabular}\n\\end{table}")
      val cap = inl(t.caption, spans = false).trim
      if (cap.nonEmpty) sb.append('\n').append(cap)
      sb.toString
    }

    def block(b: Block, depth: Int): String = b match {
      case BPara(is) => inl(is, spans = true).trim
      case BHeader(l, is) =>
        val txt = inl(is, spans = false).trim
        if (txt.isEmpty) "" else ("#" * l.min(6).max(1)) + " " + txt
      case BQuote(bs) =>
        bs.map(block(_, depth)).filter(_.nonEmpty)
          .mkString("\n\n").linesIterator.map(l => if (l.isEmpty) ">" else "> " + l).mkString("\n")
      case BCode(text, id) =>
        // verbatim content rides the span-marker channel so postprocess
        // whitespace stages can never reformat a code fence interior
        marker("code", id, "```\n" + text + "\n```")
      case BRule() => "---"
      case l: BList => list(l, 0)
      case BDefList(items) =>
        items.map { case (term, dfn) =>
          val t = inl(term, spans = false).trim
          val d = inl(dfn, spans = true).trim
          if (t.isEmpty) d else s"**$t**: $d"
        }.filter(_.nonEmpty).mkString("\n")
      case BFigure(id, cap) =>
        val c = inl(cap, spans = false).trim
        val body = if (c.isEmpty) s"Figure ($id)" else s"Figure: $c"
        marker("figure", id, body)
      case t: BTable => marker("table", t.id, tableBody(t))
      case BMathBlock(tex, id) =>
        val body = TexNormalizer.normalize(tex, inline = false)
        if (body.isEmpty) "" else marker("math_display", id, body)
      case BRefList(items) =>
        // nougat mmd reference style: one "* [n] text" line per entry,
        // each riding the span channel (kind "ref") so postprocess stages
        // never mistake REAL parsed references for hallucinated ones
        items.map { it =>
          val raw = inl(it.inlines, spans = false).trim
          val title = stripRefMarker(raw, it.label)
          refs += graft.core.RefEntry(it.id, it.label, title, raw)
          marker("ref", it.id, s"* [${it.label}] $title")
        }.filter(_.nonEmpty).mkString("\n")
    }

    val parts = blocks.map(block(_, 0)).filter(_.nonEmpty)
    val fns = footnotes.map { case (id, body) =>
      marker("footnote", id, s"[^$id]: $body")
    }
    val md = (parts ++ fns).mkString("\n\n")
    Serialized(epilogue(md), bodies.toVector, refs.toVector)
  }

  /** Remove the leading "[n]" / "n." marker the entry text repeats. */
  private def stripRefMarker(raw: String, label: String): String = {
    val bracket = s"[$label]"
    if (raw.startsWith(bracket)) raw.substring(bracket.length).stripLeading()
    else if (raw.startsWith(label + ".")) raw.substring(label.length + 1).stripLeading()
    else raw
  }

  /** Whitespace classes of ASCII chars: 0 none, 1 a space, 3 any other
    * whitespace (bit 0: whitespace, bit 1: never left as is). */
  private val asciiWs: Array[Byte] = Array.tabulate(0x80) { c =>
    (if (c == ' ') 1 else if (Character.isWhitespace(c.toChar)) 3 else 0).toByte
  }

  /** Inline-whitespace collapse (HTML rendering semantics); explicit '\n'
    * from <br> survives as a line break.
    */
  private def collapseWs(s: String): String = {
    // fast path: nothing to collapse (common for short text runs); the
    // scan keeps its flags in ints so ASCII text takes no branch per space
    val n = s.length
    var k = 0
    var prevWs = 0
    var dirty = 0
    while (k < n && dirty == 0) {
      val c = s.charAt(k)
      val t = if (c < 0x80) asciiWs(c) else if (Character.isWhitespace(c)) 3 else 0
      val ws = t & 1
      dirty = ws & ((t >> 1) | prevWs)
      prevWs = ws
      k += 1
    }
    if (dirty == 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingNl = false
    var pendingSp = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\n') { pendingNl = true; pendingSp = false }
      else if ((c <= ' ' || c >= 0x80) && Character.isWhitespace(c)) { if (!pendingNl) pendingSp = true }
      else {
        if (pendingNl) sb.append('\n') else if (pendingSp) sb.append(' ')
        pendingNl = false; pendingSp = false
        sb.append(c)
      }
      i += 1
    }
    if (pendingNl) sb.append('\n') else if (pendingSp) sb.append(' ')
    sb.toString
  }

  /** `**bold**` / `_italic_` with edge-whitespace hoisted outside the
    * markers (markdown.py:117-128).
    */
  private def hoist(inner: String, mark: String): String = {
    val lead = inner.takeWhile(_.isWhitespace)
    if (lead.length == inner.length) return inner // all whitespace: no markers
    val trail = inner.reverse.takeWhile(_.isWhitespace).reverse
    val core = inner.substring(lead.length, inner.length - trail.length)
    lead + mark + core + mark + trail
  }

  private val pPipeLeft = java.util.regex.Pattern.compile("(\\|) +(\\w)")
  private val pPipeRight = java.util.regex.Pattern.compile("(\\w) +(\\|)")
  private val pBareAmp = java.util.regex.Pattern.compile("(?<!\\\\)&")
  private def escapeAmp(s: String): String =
    if (s.indexOf('&') < 0) s else pBareAmp.matcher(s).replaceAll("\\\\&")

  private val pTrailWs = java.util.regex.Pattern.compile("(?m)[ \t]+$")
  private val pDoubleSp = java.util.regex.Pattern.compile("(?<=\\S) {2,}")
  private val pBlanks = java.util.regex.Pattern.compile("\n{3,}")

  /** Document epilogue (markdown.py:367-396): trailing-space strip,
    * double-space collapse (not at line starts), blank-line squeeze, trim.
    * Each regex is gated by a cheap scan — most serialized docs are
    * already clean and the lookbehind scan showed up in profiles.
    */
  def epilogue(md0: String): String = {
    var md = md0
    if (md.contains(" \n") || md.contains("\t\n") ||
        md.endsWith(" ") || md.endsWith("\t"))
      md = pTrailWs.matcher(md).replaceAll("")
    if (md.contains("  ")) md = pDoubleSp.matcher(md).replaceAll(" ")
    if (md.contains("\n\n\n")) md = pBlanks.matcher(md).replaceAll("\n\n")
    md.trim
  }
}

/** Splice span bodies back over their markers and compute final offsets.
  * Must run AFTER postprocessing; markers truncated away by postprocess
  * simply drop their spans (the reference analog: figures whose pages
  * were rejected never re-join, split_md_to_pages.py:409-445).
  */
object SpanReinserter {
  import MarkdownSerializer.{SpanBody, Serialized}
  import graft.core.Span

  // index capped at 8 digits: even if a forged sequence survived input
  // sanitization, the parse below can never overflow Int
  private val markerRe = java.util.regex.Pattern.compile("\uE000(\\d{1,8})\uE001")

  def reinsert(s: Serialized): (String, Vector[Span]) = reinsert(s.markdown, s.bodies)

  def reinsert(md: String, bodies: Vector[SpanBody]): (String, Vector[Span]) = {
    val (text, spans, _) = reinsertWhere(md, bodies, _ => true)
    (text, spans)
  }

  /** Remove any marker bytes without reinsertion (defensive cleanup). */
  def stripMarkers(md: String): String = markerRe.matcher(md).replaceAll("")

  /** Kind-selective splice: markers whose body satisfies `splice` are
    * reinserted with offsets; the rest are REMOVED and their body indices
    * returned (the page-assembly contract: figure/table bodies re-attach
    * by caption match instead of splicing in place —
    * split_md_to_pages.py:409-445).
    */
  def reinsertWhere(md: String, bodies: Vector[SpanBody],
                    splice: SpanBody => Boolean): (String, Vector[Span], Vector[Int]) = {
    if (md.indexOf('') < 0) return (md, Vector.empty, Vector.empty)
    val m = markerRe.matcher(md)
    val sb = new java.lang.StringBuilder(md.length + 64)
    val spans = new ArrayBuffer[Span](4)
    val removed = new ArrayBuffer[Int](4)
    var last = 0
    while (m.find()) {
      sb.append(md, last, m.start)
      val idx = m.group(1).toInt
      if (idx < bodies.length) {
        val b = bodies(idx)
        if (splice(b)) {
          val start = sb.length
          sb.append(b.body)
          spans += Span(b.kind, b.id, start, sb.length, b.body)
        } else removed += idx
      }
      last = m.end
    }
    sb.append(md, last, md.length)
    (sb.toString, spans.toVector, removed.toVector)
  }
}
