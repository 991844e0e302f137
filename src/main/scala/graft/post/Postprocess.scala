package graft.post

import scala.collection.mutable.ArrayBuffer

/** The nougat postprocessing family re-expressed as pure Scala string
  * functions (applied per-row inside mapPartitions; the regex-only stages
  * are also exposed as Catalyst column chains in graft.queries).
  *
  * Reference semantics: /root/reference/nougat/postprocessing.py —
  * `postprocess_single` (332-484) stage order, `truncate_repetitions`
  * (102-165), repeated-line slice removal (190-298), splice (301-329),
  * `close_envs` (168-175), `markdown_compatible` (25-67), pathological
  * table cap (449-457). Where the reference depends on environment
  * (nltk word list) or randomness, this spec freezes a deterministic
  * replacement (SURVEY §7.4 #1).
  */
object Postprocess {

  // ---- W5: tail-repetition truncation ---------------------------------

  /** Truncate a degenerate repeating tail: if the string ends in ≥2
    * case-insensitive copies of a ≥`minLen`-char chunk, keep everything
    * up to (and including) the FIRST copy, then extend the cut forward
    * to the next sentence boundary found in the kept region's tail.
    *
    * Case-insensitive means equal under `foldTable`, one UTF-16 unit at
    * a time. The string is folded once into a char array; the candidate
    * scan then compares plain chars (the reference is O(n²) with copies,
    * postprocessing.py:124-133 — SURVEY §7.4 #4): a period L exists only
    * if the final `minLen` chars recur at n-L-minLen, so scan positions
    * backwards behind a first- and last-char prefilter — the smallest L
    * (first hit from the right) is the fundamental period.
    */
  def truncateRepetitions(s: String, minLen: Int = 30): String = {
    val n = s.length
    if (n < 2 * minLen) return s
    val f = new Array[Char](n)
    s.getChars(0, n, f, 0)
    var i = 0
    while (i < n) {
      val c = f(i)
      if (c >= 'A' && c <= 'Z') f(i) = (c + 32).toChar
      else if (c >= 0x80) f(i) = foldTable(c)
      i += 1
    }
    val tail = n - minLen
    val first = f(tail)
    var p = n - 2 * minLen          // candidate occurrence start (L = n - minLen - p)
    val pMin = n / 2 - minLen       // L ≤ n/2
    var L = -1
    // adversarial guard: a page where the 30-char suffix recurs densely
    // (self-periodic runs like '---…' separators) would cost O(n²) in
    // verifications; after a bounded number of candidates, switch to the
    // exact O(n) Z-array method instead of giving up (no recall loss)
    var attempts = 0
    val last = f(n - 1)
    while (p >= pMin && L < 0 && attempts < 64) {
      if (f(p) == first && f(p + minLen - 1) == last && foldedEq(f, p, tail, minLen)) {
        attempts += 1
        val cand = n - minLen - p
        if (n >= 2 * cand && foldedEq(f, n - 2 * cand, n - cand, cand)) L = cand
      }
      if (L < 0) p -= 1
    }
    if (L < 0 && attempts >= 64) L = exactSuffixPeriod(f, minLen)
    if (L < 0) return s
    // extend the periodic region char-wise to its true start: window-
    // granular walking misses one period when the tail is phase-shifted
    // (e.g. a trimmed trailing space), leaving two copies behind
    var start = n - L
    while (start > 0 && f(start - 1) == f(start - 1 + L)) start -= 1
    val keepEnd = start + L // one (possibly phase-shifted) copy
    // sentence-boundary extension (postprocessing.py:70-99 analog): when
    // the kept copy ends mid-sentence (phase shift into the preceding
    // text), extend FORWARD to the next sentence end within one period.
    def isEnder(c: Char) = c == '.' || c == '!' || c == '?'
    val endsClean =
      (keepEnd >= 1 && isEnder(s.charAt(keepEnd - 1))) ||
      (keepEnd >= 2 && s.charAt(keepEnd - 1).isWhitespace && isEnder(s.charAt(keepEnd - 2)))
    var cut = keepEnd
    if (!endsClean) {
      val lim = math.min(keepEnd + L, n)
      var j = keepEnd
      var found = -1
      while (j < lim && found < 0) {
        if (isEnder(s.charAt(j)) && (j + 1 >= n || s.charAt(j + 1).isWhitespace)) found = j + 1
        j += 1
      }
      if (found >= 0) cut = found
    }
    s.substring(0, cut).stripTrailing()
  }

  /** The case fold of `truncateRepetitions`, for every UTF-16 unit
    * (128 KiB): upper-then-lower (plain toLowerCase disagrees for e.g.
    * 'I'/'ı'). A surrogate folds to itself, so supplementary letters
    * (Deseret, Osage, Adlam) compare case-sensitively. ASCII takes a
    * fast path in the caller.
    */
  private val foldTable: Array[Char] = {
    val t = new Array[Char](0x10000)
    var c = 0
    while (c < 0x10000) {
      t(c) = Character.toLowerCase(Character.toUpperCase(c.toChar))
      c += 1
    }
    t
  }

  private def foldedEq(f: Array[Char], a: Int, b: Int, len: Int): Boolean = {
    var k = 0
    while (k < len && f(a + k) == f(b + k)) k += 1
    k == len
  }

  /** Exact smallest suffix period L ∈ [minLen, n/2] of the folded chars
    * `f` (f ends with two adjacent copies of an L-chunk), via the Z-array
    * of reversed `f` — O(n) fallback for candidate-dense pages where the
    * heuristic scan would be quadratic. Returns -1 if no period exists.
    */
  private def exactSuffixPeriod(f: Array[Char], minLen: Int): Int = {
    val n = f.length
    val last = n - 1 // reversed index k reads f(last - k)
    // Z-array: z(k) = lcp(r, r[k..]) for r = f reversed
    val z = new Array[Int](n)
    var l = 0; var rr = 0
    var k = 1
    while (k < n) {
      if ((k & 0xFFF) == 0) graft.extract.DocBudget.tick() // every 4096 chars
      var zk = 0
      if (k < rr) zk = math.min(rr - k, z(k - l))
      while (k + zk < n && f(last - zk) == f(last - k - zk)) zk += 1
      if (k + zk > rr) { l = k; rr = k + zk }
      z(k) = zk
      k += 1
    }
    var L = minLen
    val maxL = n / 2
    while (L <= maxL) {
      if (z(L) >= L) return L
      L += 1
    }
    -1
  }

  // ---- W3/W4: repeated-line slice removal ------------------------------

  /** Digit/underscore/bold-marker strip used before line comparison
    * (`remove_numbers`, postprocessing.py:178-187). Single manual pass —
    * this runs once per line of every document.
    */
  def removeNumbers(line: String): String = {
    var dirty = false
    var i = 0
    while (i < line.length && !dirty) {
      val c = line.charAt(i)
      if ((c >= '0' && c <= '9') || c == '_' ||
          (c == '*' && i + 1 < line.length && line.charAt(i + 1) == '*')) dirty = true
      i += 1
    }
    if (!dirty) return line.trim
    val sb = new java.lang.StringBuilder(line.length)
    i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '*' && i + 1 < line.length && line.charAt(i + 1) == '*') i += 1 // skip "**"
      else if (!((c >= '0' && c <= '9') || c == '_')) sb.append(c)
      i += 1
    }
    sb.toString.trim
  }

  /** Similarity of two normalized lines: 1 - lev/maxLen (the reference
    * uses difflib ratio > 0.9; this spec freezes the Levenshtein form).
    */
  def lineSimilarity(a: String, b: String): Double = {
    if (a == b) return 1.0
    val m = math.max(a.length, b.length)
    if (m == 0) return 1.0
    1.0 - Distance.levenshtein(a, b, maxDist = m).toDouble / m
  }

  /** Exact similarity when ≥ minSim is achievable, else -1 — O(1) length
    * reject, an O(n) char-histogram reject, then a banded DP capped at the
    * implied distance budget (the W3 hot path; unbounded levenshtein
    * dominated the profile before).
    */
  def boundedSim(a: String, b: String, minSim: Double): Double = {
    if (a == b) return 1.0
    val m = math.max(a.length, b.length)
    if (m == 0) return 1.0
    val budget = (m * (1.0 - minSim)).toInt // sim ≥ minSim ⇔ d ≤ budget
    if (math.abs(a.length - b.length) > budget) return -1.0
    if (histogramGap(a, b) > 2 * budget) return -1.0
    val d = Distance.levenshtein(a, b, maxDist = budget + 1)
    if (d > budget) -1.0 else 1.0 - d.toDouble / m
  }

  /** L1 distance between the char histograms of `a` and `b`, chars
    * bucketed by their low six bits. One edit moves it by at most 2 and
    * merging buckets only shrinks it, so levenshtein(a, b) ≥ gap / 2.
    */
  private def histogramGap(a: String, b: String): Int = {
    val h = new Array[Int](64)
    var i = 0
    while (i < a.length) { h(a.charAt(i) & 63) += 1; i += 1 }
    i = 0
    while (i < b.length) { h(b.charAt(i) & 63) -= 1; i += 1 }
    var gap = 0
    i = 0
    while (i < 64) { gap += math.abs(h(i)); i += 1 }
    gap
  }

  final case class SliceRemoval(text: String, slicesRemoved: Int)

  /** Detect and remove hallucinated repeated-line regions (typically
    * fabricated reference lists): runs of ≥`minSlice` similar lines
    * (len 3..200 after digit strip, gaps ≤3), expanded ≤5 lines at each
    * edge while still similar, plus a leading "References" heading; the
    * removed region is replaced by a [MISSING_PAGE_POST] paragraph
    * (postprocessing.py:190-329).
    */
  def removeHallucinatedReferences(md: String, minSlice: Int = 15): SliceRemoval = {
    val lines = md.split("\n", -1)
    val n = lines.length
    if (n < minSlice) return SliceRemoval(md, 0)
    val norm = lines.map(removeNumbers)
    val usable = norm.map(l => l.length >= 3 && l.length <= 200)

    // mark lines similar to the next usable line
    val marked = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (usable(i)) {
        var j = i + 1
        while (j < n && norm(j).isEmpty) j += 1
        if (j < n && usable(j) && boundedSim(norm(i), norm(j), 0.9) > 0.9) {
          marked(i) = true; marked(j) = true
        }
      }
      i += 1
    }
    // group marked lines into slices with gaps <= 3
    val slices = new ArrayBuffer[(Int, Int)]
    var start = -1; var last = -1
    i = 0
    while (i < n) {
      if (marked(i)) {
        if (start < 0) { start = i; last = i }
        else if (i - last <= 3) last = i
        else { slices += ((start, last)); start = i; last = i }
      }
      i += 1
    }
    if (start >= 0) slices += ((start, last))

    val big = slices.filter { case (a, b) => b - a + 1 > minSlice }
    if (big.isEmpty) return SliceRemoval(md, 0)

    // expand edges ≤5 lines while similar to the slice boundary line
    val refHead = java.util.regex.Pattern.compile("^#{1,6}\\s*references\\s*$",
      java.util.regex.Pattern.CASE_INSENSITIVE)
    val expanded = big.map { case (a0, b0) =>
      var a = a0; var b = b0
      var k = 0
      while (k < 5 && a - 1 >= 0 && usable(a - 1) &&
             boundedSim(norm(a - 1), norm(a0), 0.9) >= 0.9) { a -= 1; k += 1 }
      k = 0
      while (k < 5 && b + 1 < n && usable(b + 1) &&
             boundedSim(norm(b + 1), norm(b0), 0.9) >= 0.9) { b += 1; k += 1 }
      // include an immediately-preceding References heading (±2 lines)
      var p = a - 1
      var steps = 0
      while (p >= 0 && steps < 2 && norm(p).isEmpty) { p -= 1; steps += 1 }
      if (p >= 0 && refHead.matcher(lines(p).trim).matches()) a = p
      (a, b)
    }
    // merge overlaps, remove right-to-left
    val sorted = expanded.sortBy(_._1)
    val mergedSlices = new ArrayBuffer[(Int, Int)]
    sorted.foreach { case (a, b) =>
      if (mergedSlices.nonEmpty && a <= mergedSlices.last._2 + 1) {
        val (pa, pb) = mergedSlices.last
        mergedSlices(mergedSlices.length - 1) = (pa, math.max(pb, b))
      } else mergedSlices += ((a, b))
    }
    val keepLine = new Array[Boolean](n)
    java.util.Arrays.fill(keepLine, true)
    mergedSlices.foreach { case (a, b) => (a to b).foreach(keepLine(_) = false) }
    val sb = new java.lang.StringBuilder(md.length)
    i = 0
    var inGap = false
    while (i < n) {
      if (keepLine(i)) {
        if (inGap) { sb.append("\n\n[MISSING_PAGE_POST]\n\n"); inGap = false }
        sb.append(lines(i))
        if (i < n - 1) sb.append('\n')
      } else inGap = true
      i += 1
    }
    if (inGap) sb.append("\n\n[MISSING_PAGE_POST]")
    SliceRemoval(sb.toString, mergedSlices.length)
  }

  // ---- X10: environment closing ----------------------------------------

  private val envs = List("bmatrix", "pmatrix", "matrix", "tabular", "table")

  /** Append missing \end{env} for unbalanced environments
    * (postprocessing.py:168-175).
    */
  def closeEnvs(s: String): String = {
    var out = s
    envs.foreach { e =>
      val b = countOccurrences(s, s"\\begin{$e}")
      val c = countOccurrences(s, s"\\end{$e}")
      if (b > c) out = out + (s"\n\\end{$e}" * (b - c))
    }
    out
  }

  private def countOccurrences(s: String, needle: String): Int = {
    var c = 0; var i = s.indexOf(needle)
    while (i >= 0) { c += 1; i = s.indexOf(needle, i + needle.length) }
    c
  }

  // ---- F7: pathological table cap ---------------------------------------

  /** Drop any line with >15 \begin{tabular}, >60 \multicolumn, or >400 '&'
    * (postprocessing.py:449-457).
    */
  def killPathologicalTables(s: String): String =
    s.linesWithSeparators.filterNot { line =>
      countOccurrences(line, "\\begin{tabular}") > 15 ||
      countOccurrences(line, "\\multicolumn") > 60 ||
      line.count(_ == '&') > 400
    }.mkString

  // ---- X7: markdown_compatible -------------------------------------------

  private val pTagLead = java.util.regex.Pattern.compile(
    "(?m)^\\((\\d+(?:\\.\\d+)*)\\)\\s*\\\\\\[(.+?)\\\\\\]\\s*$")
  private val pTagTrail = java.util.regex.Pattern.compile(
    "(?m)^\\\\\\[(.+?)\\\\\\]\\s*\\((\\d+(?:\\.\\d+)*)\\)\\s*$")
  private val pBareUrl = java.util.regex.Pattern.compile(
    "(?<![\\]\\[(])\\b(https?://[^\\s)\\]>\"']+)")

  /** Equation-tag rewrites, \bm→\mathbf, bare-URL linking
    * (postprocessing.py:25-67). `hasMath`/`hasUrl` gate the scans.
    */
  def markdownCompatible(s: String, hasMath: Boolean = true, hasUrl: Boolean = true): String = {
    var t = s
    if (hasMath) {
      // "(1.2) \[ ... \]" or "\[ ... \] (1.2)" → "\[ ... \tag{1.2}\]"
      t = pTagLead.matcher(t).replaceAll("\\\\[$2 \\\\tag{$1}\\\\]")
      t = pTagTrail.matcher(t).replaceAll("\\\\[$1 \\\\tag{$2}\\\\]")
      if (t.contains("\\bm{")) t = t.replace("\\bm{", "\\mathbf{")
    }
    // bare URLs → [url](url); skip urls already inside ]( ) or [ ]
    if (hasUrl) t = pBareUrl.matcher(t).replaceAll("[$1]($1)")
    t
  }

  // ---- X14 -----------------------------------------------------------------

  private val pPrettyNl = java.util.regex.Pattern.compile("\n(?![\n\\d*#\\[])")

  /** Unwrap "pretty" line breaks: '\n' → ' ' unless followed by \n, digit,
    * '*', '#', or '[' (dataset/utils/utils.py:10-20).
    */
  def removePrettyLinebreaks(s: String): String =
    pPrettyNl.matcher(s).replaceAll(" ")

  // ---- X8: the ordered pipeline ---------------------------------------------

  final case class Result(text: String, repetitionTruncated: Boolean, slicesRemoved: Int)

  /** `postprocess_single` stage order (postprocessing.py:332-484), adapted:
    * oversize-title demotion → numeral-only header removal → repetition
    * truncation → hallucinated-reference removal → pathological-table cap
    * → empty-tabular deletion → marker-line cleanup → env closing →
    * whitespace squeeze → optional markdown_compatible.
    */
  private val pEmptyCite = java.util.regex.Pattern.compile("(?m)^\\* \\[\\] *$\n?")
  private val pEmptyCiteInline = java.util.regex.Pattern.compile(" \\[\\](?=[ ,.;])")
  private val pPmcMath = java.util.regex.Pattern.compile(
    "(?<![\\w_])_([A-Za-z0-9]+)__([A-Za-z0-9]+)_(?![\\w_])")

  /** Empty citation brackets and PMC-style math artifacts
    * (postprocessing.py:357-384): "* []" reference stubs dropped,
    * " []" before punctuation removed, `_a__b_` → \(a_{b}\).
    */
  def fixArtifacts(s: String): String = {
    var t = s
    if (t.contains("[]")) {
      t = pEmptyCite.matcher(t).replaceAll("")
      t = pEmptyCiteInline.matcher(t).replaceAll("")
    }
    if (t.contains("__")) t = pPmcMath.matcher(t).replaceAll("\\\\($1_{$2}\\\\)")
    t
  }

  private val pLongTitle = java.util.regex.Pattern.compile("(?m)^#{1,6} {0,3}(.{100,})$")
  private val pNumHeader = java.util.regex.Pattern.compile("(?m)^#{1,6} {0,3}[\\d.]+ *$\n?")
  private val pEmptyTabular = java.util.regex.Pattern.compile(
    "\\\\begin\\{tabular\\}\\{[^}]*\\}\\s*\\\\end\\{tabular\\}")
  private val pHashLine = java.util.regex.Pattern.compile("(?m)^[#\\s]*#+ *$\n?")
  private val pDotLine = java.util.regex.Pattern.compile("(?m)^\\. *$\n?")
  private val pTrailWs = java.util.regex.Pattern.compile("(?m)[ \t]+$")
  private val pBlankSqueeze = java.util.regex.Pattern.compile("\n{3,}")

  /** Gate chars of `Feat`: the only chars whose flags need a per-char
    * look at their neighbours. Every other char skips the dispatch. */
  private final val GHash = 1; private final val GDot = 2; private final val GNl = 3
  private final val GAmp = 4; private final val GBracket = 5; private final val GFootnote = 6
  private final val GBullet = 7
  private val gateClass: Array[Byte] = {
    val t = new Array[Byte](128)
    t('#') = GHash.toByte; t('.') = GDot.toByte; t('\n') = GNl.toByte; t('&') = GAmp.toByte
    t('[') = GBracket.toByte; t('F') = GFootnote.toByte; t('-') = GBullet.toByte; t('*') = GBullet.toByte
    t
  }

  /** Feature gate: each boolean gates a regex stage below —
    * java.util.regex full-document scans for patterns that cannot match
    * dominated the execution profile. Flags that only ask whether a
    * substring occurs are one `contains` each; the rest come from one
    * pass that dispatches on the eight gate chars through `gateClass`.
    * The char before the page counts as '\n' (a page starts a line).
    */
  private final class Feat(s: String) {
    var hash = false; var dotLine = false; var trailWs = false
    var tripleNl = false; var amp = false
    val http: Boolean = s.contains("http")
    var bracketEq = false
    val beginEnv: Boolean = s.contains("\\begin{")
    val tabular: Boolean = beginEnv && s.contains("\\begin{tabular}")
    var leftmargin = false
    val endEnv: Boolean = s.contains("\\end{")
    var bulletLine = false; var midBullet = false
    var footnote = false; var refMarker = false
    // per-heading-line classification: each flag is a conservative
    // superset of its regex's match condition, so the three '#' regexes
    // below run only on documents that can actually match
    var longTitleCand = false; var numHeaderCand = false
    var hashLineCand = false; var hashAfterSpace = false

    /** The char at `i`; '\n' before the page, NUL after it. */
    private def at(i: Int): Char =
      if (i < 0) '\n' else if (i < s.length) s.charAt(i) else '\u0000'

    private def heading(i: Int): Unit = {
      var j = i
      while (j < s.length && s.charAt(j) == '#') j += 1
      var eol = s.indexOf('\n', j)
      if (eol < 0) eol = s.length
      // pLongTitle consumes at most 6 '#'s: hashes beyond the sixth
      // count toward the 100-char title group
      if (eol - (i + math.min(6, j - i)) >= 100) longTitleCand = true
      var k = j
      var only = true
      while (k < eol && only) {
        val ch = s.charAt(k)
        // any whitespace is fine: pHashLine's [#\s]* and Java's
        // $-before-terminator admit \r, \f, vertical tab
        if (ch != '#' && !Character.isWhitespace(ch)) only = false
        k += 1
      }
      if (only) hashLineCand = true
      var m = j
      while (m < eol && s.charAt(m) == ' ') m += 1
      if (m < eol && (s.charAt(m).isDigit || s.charAt(m) == '.')) numHeaderCand = true
    }

    private def bracket(i: Int): Unit = {
      val prev = at(i - 1)
      if (prev == '\\') bracketEq = true
      else if (!leftmargin && at(i + 1) == 'l' && s.startsWith("[leftmargin=*]", i)) leftmargin = true
      else if (!footnote && at(i + 1) == 'F' && s.startsWith("[FOOTNOTE:", i)) footnote = true
      else if (prev == ' ' && at(i - 2) == '*' && at(i - 3) == '\n') refMarker = true
    }

    scan()

    private def scan(): Unit = {
      val table = gateClass
      val n = s.length
      var i = 0
      while (i < n) {
        val c = s.charAt(i)
        if (c < 0x80) {
          val k = table(c)
          if (k != 0) gate(k, i)
        }
        i += 1
      }
      if (n > 0 && (s.charAt(n - 1) == ' ' || s.charAt(n - 1) == '\t')) trailWs = true
    }

    /** The flags a gate char of class `k` at `i` can set. */
    private def gate(k: Int, i: Int): Unit = (k: @scala.annotation.switch) match {
      case GHash =>
        hash = true
        val prev = at(i - 1)
        if (prev == '\n') heading(i)
        else if (Character.isWhitespace(prev)) hashAfterSpace = true
      case GDot => if (at(i - 1) == '\n') dotLine = true
      case GNl =>
        val prev = at(i - 1)
        if (prev == ' ' || prev == '\t') trailWs = true
        else if (prev == '\n' && at(i - 2) == '\n') tripleNl = true
      case GAmp => amp = true
      case GBracket => bracket(i)
      case GFootnote =>
        if (!footnote && at(i - 1) == '\n' && s.startsWith("Footnote ", i)) footnote = true
      case _ => // GBullet: '-'/'*' followed by a space
        if (at(i + 1) == ' ') {
          val prev = at(i - 1)
          if (prev == '\n') bulletLine = true
          else if (prev == ' ') midBullet = true
        }
    }
  }

  /** Test hook: the '#'-regex gate flags (longTitle, numHeader, hashLine,
    * hashAfterSpace) for soundness property tests. */
  private[post] def headingGates(s: String): (Boolean, Boolean, Boolean, Boolean) = {
    val f = new Feat(s)
    (f.longTitleCand, f.numHeaderCand, f.hashLineCand, f.hashAfterSpace)
  }

  /** Test hook: all nineteen gate flags, in declaration order. */
  private[post] def gateFlags(s: String): IndexedSeq[Boolean] = {
    val f = new Feat(s)
    IndexedSeq(f.hash, f.dotLine, f.trailWs, f.tripleNl, f.amp, f.http, f.bracketEq,
      f.beginEnv, f.tabular, f.leftmargin, f.endEnv, f.bulletLine, f.midBullet,
      f.footnote, f.refMarker, f.longTitleCand, f.numHeaderCand, f.hashLineCand,
      f.hashAfterSpace)
  }

  def postprocessSingle(md0: String, markdownFix: Boolean = true): Result = {
    graft.extract.DocBudget.tick() // wall-clock checkpoint between stages
    var md = md0
    val f = new Feat(md)
    // >100-char titles are not titles (postprocessing.py:343-345);
    // numeral-only headers (postprocessing.py:352-356)
    if (f.longTitleCand) md = pLongTitle.matcher(md).replaceAll("$1")
    if (f.numHeaderCand) md = pNumHeader.matcher(md).replaceAll("")
    // itemize artifact (postprocessing.py:347)
    if (f.leftmargin) md = md.replace("[leftmargin=*]\n", "")
    // hallucinated trailing title (postprocessing.py:349-356)
    if (f.hash) md = RepairStages.endTitle(md)
    val truncated = truncateRepetitions(md)
    val wasTruncated = truncated.length < md.length
    md = truncated
    val sliced = removeHallucinatedReferences(md)
    md = sliced.text
    // author-initial spam + empty citation brackets (postprocessing.py:358-361)
    if (f.refMarker) md = RepairStages.authorSpam(md)
    // lone word-char paragraph at page edge (postprocessing.py:362)
    if (strayGate(md)) md = RepairStages.strayChar(md)
    md = fixArtifacts(md)
    // footnote relabel + [FOOTNOTE] spans (postprocessing.py:373-381)
    if (f.footnote) md = RepairStages.footnotes(md)
    // one-line itemize re-flow (postprocessing.py:386-424)
    if (f.bulletLine && f.midBullet) md = RepairStages.itemizeReflow(md)
    if (f.amp || f.beginEnv) md = killPathologicalTables(md)
    // table/tabular whitespace corrections (postprocessing.py:459-476)
    if (f.beginEnv || f.endEnv) md = RepairStages.tableWhitespace(md)
    // empty tabular environments (postprocessing.py:458-476)
    if (f.tabular) md = pEmptyTabular.matcher(md).replaceAll("")
    // repeated bold "S. A. B." hallucination (postprocessing.py:477)
    md = RepairStages.sabSpam(md)
    // lone '#' or '.' lines (postprocessing.py:478-481)
    if (f.hashLineCand || f.hashAfterSpace) md = pHashLine.matcher(md).replaceAll("")
    if (f.dotLine) md = pDotLine.matcher(md).replaceAll("")
    if (f.beginEnv) md = closeEnvs(md)
    if (f.trailWs || wasTruncated || sliced.slicesRemoved > 0)
      md = pTrailWs.matcher(md).replaceAll("")
    if (f.tripleNl || sliced.slicesRemoved > 0)
      md = pBlankSqueeze.matcher(md).replaceAll("\n\n")
    md = md.trim
    if (markdownFix && (f.bracketEq || f.http))
      md = markdownCompatible(md, f.bracketEq, f.http)
    Result(md, wasTruncated, sliced.slicesRemoved)
  }

  /** O(1) gate for the stray-char stage: the pattern can only match when
    * the page opens `\w\n\n` or closes `\n\n\w`.
    */
  private def strayGate(s: String): Boolean = {
    val n = s.length
    (n >= 3 && s.charAt(1) == '\n' && s.charAt(2) == '\n') ||
    (n >= 3 && s.charAt(n - 2) == '\n' && s.charAt(n - 3) == '\n')
  }

  /** Per-PAGE postprocess: the document pipeline plus the page-boundary
    * whitespace repair (postprocessing.py:426-446) which only makes sense
    * when consecutive pages will be concatenated — the doc-level pipeline
    * trims edges, so the boundary stage lives here (SURVEY §2 X8; the
    * nltk word list is replaced by the bundled deterministic list).
    */
  def postprocessPage(md0: String, markdownFix: Boolean = true): Result = {
    val r = postprocessSingle(md0, markdownFix)
    r.copy(text = RepairStages.pageEnding(r.text))
  }
}

/** Bounded Levenshtein (X12 substrate) — banded DP: O(n·maxDist). */
object Distance {
  def levenshtein(a: String, b: String, maxDist: Int = Int.MaxValue): Int = {
    if (a == b) return 0
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    val n = s.length; val m = t.length
    if (m - n > maxDist) return maxDist
    var prev = Array.tabulate(n + 1)(identity)
    var cur = new Array[Int](n + 1)
    var j = 1
    while (j <= m) {
      graft.extract.DocBudget.tick() // per-column checkpoint (O(n·m) DP)
      cur(0) = j
      var best = cur(0)
      var i = 1
      while (i <= n) {
        val cost = if (s.charAt(i - 1) == t.charAt(j - 1)) 0 else 1
        cur(i) = math.min(math.min(cur(i - 1) + 1, prev(i) + 1), prev(i - 1) + cost)
        if (cur(i) < best) best = cur(i)
        i += 1
      }
      if (best > maxDist) return maxDist
      val tmp = prev; prev = cur; cur = tmp
      j += 1
    }
    math.min(prev(n), maxDist)
  }
}
