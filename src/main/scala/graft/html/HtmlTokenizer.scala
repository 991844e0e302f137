package graft.html

/** HTML token stream. Text content arrives entity-decoded and
  * control-char-sanitized; tag/attr names are lowercased.
  */
sealed trait HToken
final case class StartTag(name: String, attrs: List[(String, String)], selfClosing: Boolean) extends HToken
final case class EndTag(name: String) extends HToken
final case class TextTok(content: String) extends HToken

/** Hand-rolled, never-throwing HTML tokenizer — a bounded subset of the
  * WHATWG tokenizer sufficient for Common-Crawl reality (SURVEY §7.4 #2).
  * The container has no HTML library (no jsoup, offline coursier), and the
  * north_star explicitly calls for "batched DOM/byte-stream tokenization
  * of raw html:binary", so this is first-class engine code, not a shim.
  *
  * Guarantees:
  *  - never throws on any input (malformed tags, truncation, garbage);
  *  - O(n) single pass; bounded output via `maxTokens`;
  *  - raw-text elements (script/style) skipped entirely, RCDATA
  *    (textarea/title) captured as text;
  *  - comments, doctypes, CDATA, processing instructions dropped;
  *  - '\r\n'/'\r' → '\n'; C0 controls (except \n\t) stripped from text.
  */
object HtmlTokenizer {

  /** Content is raw text; never emitted (invisible to extraction). */
  private val rawSkip = Set("script", "style")
  /** Content is raw text; emitted as a single text token. */
  private val rawKeep = Set("textarea", "title")

  val defaultMaxTokens = 1 << 20

  def tokenize(html: String, maxTokens: Int = defaultMaxTokens): IndexedSeq[HToken] =
    new Run(html, maxTokens).tokens()

  /** One tokenizer pass. Parse helpers return their token and leave the
    * index after the consumed markup in `after`, so no call allocates a
    * result tuple; tokens collect in a plain array.
    */
  private final class Run(html: String, maxTokens: Int) {
    private val n = html.length
    private var out = new Array[HToken](256)
    private var len = 0
    private var after = 0
    // attribute scratch of the tag being parsed (first occurrence wins)
    private val attrNames = new Array[String](MaxAttrs)
    private val attrValues = new Array[String](MaxAttrs)

    private def emit(t: HToken): Unit = {
      if (len == out.length) out = java.util.Arrays.copyOf(out, len * 2)
      out(len) = t
      len += 1
    }

    private def flushText(from: Int, until: Int): Unit =
      if (until > from) {
        val t = text(html, from, until)
        if (t.nonEmpty) emit(TextTok(t))
      }

    def tokens(): IndexedSeq[HToken] = {
      val budget = graft.extract.DocBudget.current()
      var i = 0
      var textStart = 0
      while (i < n && len < maxTokens) {
        graft.extract.DocBudget.tick(budget) // per-token wall-clock checkpoint
        val lt = html.indexOf('<', i)
        if (lt < 0) { flushText(textStart, n); i = n; textStart = n }
        else {
          // classify what follows '<'
          val next = if (lt + 1 < n) html.charAt(lt + 1) else ' '
          if (next == '!') {
            flushText(textStart, lt)
            if (html.startsWith("<!--", lt)) {
              val end = html.indexOf("-->", lt + 4)
              i = if (end < 0) n else end + 3
            } else if (html.regionMatches(true, lt, "<![CDATA[", 0, 9)) {
              val end = html.indexOf("]]>", lt + 9)
              i = if (end < 0) n else end + 3
            } else { // doctype / bogus markup declaration
              i = skipPast('>', lt + 2)
            }
            textStart = i
          } else if (next == '?') { // processing instruction → bogus comment
            flushText(textStart, lt)
            i = skipPast('>', lt + 2)
            textStart = i
          } else if (next == '/') {
            flushText(textStart, lt)
            if (lt + 2 < n && isNameStart(html.charAt(lt + 2))) {
              val nameEnd = nameEndFrom(lt + 2)
              emit(EndTag(name(lt + 2, nameEnd)))
              i = skipPast('>', nameEnd)
            } else i = skipPast('>', lt + 2) // "</3" etc: bogus comment per spec
            textStart = i
          } else if (isNameStart(next)) {
            flushText(textStart, lt)
            val st = startTag(lt + 1)
            i = after
            textStart = i
            if (st != null) { // null: truncated tag at EOF, dropped silently
              emit(st)
              // NB: the self-closing flag is IGNORED for raw-text
              // elements per the HTML spec — <script/> still consumes
              // everything up to </script>
              if (rawSkip.contains(st.name)) {
                rawEnd(i, st.name)
                emit(EndTag(st.name))
                i = after
                textStart = i
              } else if (rawKeep.contains(st.name)) {
                val end = rawEnd(i, st.name)
                val t = text(html, i, end)
                if (t.nonEmpty) emit(TextTok(t))
                emit(EndTag(st.name))
                i = after
                textStart = i
              }
            }
          } else {
            // lone '<' is literal text; continue scanning after it
            i = lt + 1
          }
        }
      }
      if (len < maxTokens) flushText(textStart, n)
      scala.collection.immutable.ArraySeq.unsafeWrapArray(java.util.Arrays.copyOf(out, len))
    }

    /** Index after the next `c` at or after `from`, else the end. */
    private def skipPast(c: Char, from: Int): Int = {
      val end = html.indexOf(c, from)
      if (end < 0) n else end + 1
    }

    private def nameEndFrom(start: Int): Int = {
      var i = start
      while (i < n && isNameChar(html.charAt(i))) i += 1
      i
    }

    /** Lowercased tag name. Name chars are ASCII, so `toLowerCase` can
      * only change a name holding an uppercase letter. */
    private def name(start: Int, end: Int): String = {
      val raw = html.substring(start, end)
      var i = start
      while (i < end && !(html.charAt(i) >= 'A' && html.charAt(i) <= 'Z')) i += 1
      if (i < end) raw.toLowerCase else raw
    }

    /** Parse a start tag whose name begins at `start` (after '<'); `after`
      * is set to the index after '>'. Returns null on EOF before '>'.
      */
    private def startTag(start: Int): StartTag = {
      val nameEnd = nameEndFrom(start)
      val tag = name(start, nameEnd)
      var i = nameEnd
      var k = 0 // attributes so far
      var selfClosing = false
      var done = false
      while (!done && i < n && k < MaxAttrs) {
        while (i < n && isWs(html.charAt(i))) i += 1
        if (i >= n) { after = n; return null }
        html.charAt(i) match {
          case '>' => i += 1; done = true
          case '/' =>
            if (i + 1 < n && html.charAt(i + 1) == '>') { selfClosing = true; i += 2; done = true }
            else i += 1
          case _ =>
            // attribute name: everything until ws, '=', '>', '/'
            val aStart = i
            var plain = true // no char that toLowerCase could change
            var c = html.charAt(i)
            while (i < n && !isWs(c) && c != '=' && c != '>' && c != '/') {
              if ((c >= 'A' && c <= 'Z') || c >= 0x80) plain = false
              i += 1
              if (i < n) c = html.charAt(i)
            }
            val aName = if (plain) html.substring(aStart, i) else html.substring(aStart, i).toLowerCase
            while (i < n && isWs(html.charAt(i))) i += 1
            var aVal = ""
            if (i < n && html.charAt(i) == '=') {
              i += 1
              while (i < n && isWs(html.charAt(i))) i += 1
              if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
                val q = html.charAt(i); i += 1
                val vStart = i
                val close = html.indexOf(q, i)
                i = if (close < 0) n else close
                aVal = html.substring(vStart, i)
                if (i < n) i += 1
              } else {
                val vStart = i
                while (i < n && !isWs(html.charAt(i)) && html.charAt(i) != '>') i += 1
                aVal = html.substring(vStart, i)
              }
            }
            if (aName.nonEmpty && !seen(aName, k)) {
              attrNames(k) = aName
              attrValues(k) = sanitizeAttr(Entities.decode(aVal, inAttr = true))
              k += 1
            }
        }
      }
      if (!done && i >= n) { after = n; return null }
      after = if (done) i else skipPast('>', i) // attr cap hit: skip to '>'
      var attrs: List[(String, String)] = Nil
      while (k > 0) { k -= 1; attrs = (attrNames(k), attrValues(k)) :: attrs }
      StartTag(tag, attrs, selfClosing)
    }

    private def seen(aName: String, k: Int): Boolean = {
      var j = 0
      while (j < k && attrNames(j) != aName) j += 1
      j < k
    }

    /** Content end of a raw-text element: the index of its matching
      * `</name` (case-insensitive), or the end on EOF. `after` is set to
      * the index after that end tag's '>'. Only a '<' can start a match,
      * so the search jumps from one '<' to the next.
      */
    private def rawEnd(from: Int, tag: String): Int = {
      val m = tag.length + 2
      var lt = html.indexOf('<', from)
      while (lt >= 0 && lt + m <= n) {
        if (html.charAt(lt + 1) == '/' && html.regionMatches(true, lt + 2, tag, 0, tag.length)) {
          val end = lt + m
          if (end >= n || html.charAt(end) == '>' || isWs(html.charAt(end)) || html.charAt(end) == '/') {
            after = skipPast('>', end)
            return lt
          }
        }
        lt = html.indexOf('<', lt + 1)
      }
      after = n
      n
    }
  }

  /** At most this many attributes are kept per tag; the rest of the tag
    * is skipped. */
  private final val MaxAttrs = 64

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'

  private def isWs(c: Char): Boolean = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  /** Attribute values can reach the markdown verbatim (hrefs), so the
    * reserved span-marker chars must be stripped here too — otherwise
    * page content could forge a marker (see MarkdownSerializer).
    */
  private def sanitizeAttr(v: String): String =
    if (v.indexOf('\uE000') < 0 && v.indexOf('\uE001') < 0) v
    else v.filterNot(c => c == '\uE000' || c == '\uE001')

  /** Text token content of `s[from, until)`: entity-decoded, then
    * `cleanText`. A run with no '&', no control char and no marker char
    * is its own substring, so it is scanned once and copied once.
    */
  private def text(s: String, from: Int, until: Int): String = {
    var i = from
    var plain = true
    while (i < until && plain) {
      val c = s.charAt(i)
      if (c < ' ') plain = c == '\n' || c == '\t'
      else if (c == '&' || c == '\uE000' || c == '\uE001') plain = false
      i += 1
    }
    val raw = s.substring(from, until)
    if (plain) raw else cleanText(Entities.decode(raw))
  }

  /** Normalize newlines; strip C0 controls except \n\t; strip the two
    * private-use chars reserved as span markers by MarkdownSerializer
    * (\uE000/\uE001) so page content can never forge a marker.
    */
  private def cleanText(s: String): String = {
    var needs = false
    var k = 0
    while (k < s.length && !needs) {
      val c = s.charAt(k)
      if (c == '\r' || (c < ' ' && c != '\n' && c != '\t') || c == '\uE000' || c == '\uE001') needs = true
      k += 1
    }
    if (!needs) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\r') {
        sb.append('\n')
        if (i + 1 < s.length && s.charAt(i + 1) == '\n') i += 1
      } else if ((c >= ' ' || c == '\n' || c == '\t') && c != '\uE000' && c != '\uE001') sb.append(c)
      i += 1
    }
    sb.toString
  }
}
