package graft.post

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Pins the table-driven `Feat` gate and the fold-once
  * `truncateRepetitions` to the per-char forms they replaced: a test-local
  * copy of the per-char gate, and a naive quadratic repetition reference.
  */
class KernelRewriteSpec extends AnyFunSuite {

  private def check(p: Prop, n: Int): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(n)
      .withInitialSeed(org.scalacheck.rng.Seed(11L))
    val res = SCTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  // ---- gate ---------------------------------------------------------------

  /** The per-char gate as a 10-way match on every char, flags in
    * `Postprocess.gateFlags` order. */
  private def perCharGate(s: String): IndexedSeq[Boolean] = {
    var hash = false; var dotLine = false; var trailWs = false
    var tripleNl = false; var amp = false; var http = false
    var bracketEq = false; var beginEnv = false; var tabular = false; var leftmargin = false
    var endEnv = false; var bulletLine = false; var midBullet = false
    var footnote = false; var refMarker = false
    var longTitleCand = false; var numHeaderCand = false
    var hashLineCand = false; var hashAfterSpace = false
    var i = 0
    var prev = '\n'
    var prev2 = '\n'
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '#' =>
          hash = true
          if (prev == '\n') {
            var j = i
            while (j < s.length && s.charAt(j) == '#') j += 1
            var eol = s.indexOf('\n', j)
            if (eol < 0) eol = s.length
            if (eol - (i + math.min(6, j - i)) >= 100) longTitleCand = true
            var k = j
            var only = true
            while (k < eol && only) {
              val ch = s.charAt(k)
              if (ch != '#' && !Character.isWhitespace(ch)) only = false
              k += 1
            }
            if (only) hashLineCand = true
            var m = j
            while (m < eol && s.charAt(m) == ' ') m += 1
            if (m < eol && (s.charAt(m).isDigit || s.charAt(m) == '.')) numHeaderCand = true
          } else if (Character.isWhitespace(prev)) hashAfterSpace = true
        case '.' => if (prev == '\n') dotLine = true
        case '\n' =>
          if (prev == ' ' || prev == '\t') trailWs = true
          if (prev == '\n' && prev2 == '\n') tripleNl = true
        case '&' => amp = true
        case 'h' => if (!http && s.startsWith("http", i)) http = true
        case '[' => if (prev == '\\') bracketEq = true
                    else if (!leftmargin && s.startsWith("[leftmargin=*]", i)) leftmargin = true
                    else if (!footnote && s.startsWith("[FOOTNOTE:", i)) footnote = true
                    else if (prev == ' ' && prev2 == '*' && i >= 3 && s.charAt(i - 3) == '\n')
                      refMarker = true
                    else if (prev == ' ' && prev2 == '*' && i == 2) refMarker = true
        case 'b' => if (!beginEnv && prev == '\\' && s.startsWith("begin{", i)) {
          beginEnv = true
          if (s.startsWith("begin{tabular}", i)) tabular = true
        } else if (!tabular && prev == '\\' && s.startsWith("begin{tabular}", i)) tabular = true
        case 'e' => if (!endEnv && prev == '\\' && s.startsWith("end{", i)) endEnv = true
        case 'F' => if (!footnote && prev == '\n' && s.startsWith("Footnote ", i)) footnote = true
        case ' ' =>
          if (prev == '-' || prev == '*') {
            if (prev2 == '\n') bulletLine = true
            else if (prev2 == ' ') midBullet = true
          }
        case _ => ()
      }
      prev2 = prev; prev = c
      i += 1
    }
    if (prev == ' ' || prev == '\t') trailWs = true
    IndexedSeq(hash, dotLine, trailWs, tripleNl, amp, http, bracketEq, beginEnv, tabular,
      leftmargin, endEnv, bulletLine, midBullet, footnote, refMarker, longTitleCand,
      numHeaderCand, hashLineCand, hashAfterSpace)
  }

  private val triggers = Gen.oneOf(
    "#", ".", "\n", "&", "http", "\\begin{", "\\begin{tabular}", "\\end{", "\\[",
    "[leftmargin=*]", "[FOOTNOTE:", "Footnote ", "- ", "* ", "\t",
    " ", "x", "\\", "[", "-", "*", "F", "h", "7", "##", "begin{", "\r", "\f")
  private val triggerDoc: Gen[String] =
    Gen.choose(0, 24).flatMap(k => Gen.listOfN(k, triggers)).map(_.mkString)

  test("property: gate flags equal the per-char gate on trigger-token strings") {
    check(Prop.forAll(triggerDoc) { s =>
      Postprocess.gateFlags(s) == perCharGate(s)
    }, 20000)
  }

  test("gate flags equal the per-char gate on serialized corpus pages") {
    (0L until 400L).foreach { i =>
      val p = graft.gen.SyntheticCorpus.pageFor(42L, i)
      val dom = graft.html.DomBuilder.parse(new String(p.html, "UTF-8"))
      val md = graft.extract.MarkdownSerializer
        .serialize(graft.extract.BlockSegmenter.segment(dom).blocks).markdown
      assert(Postprocess.gateFlags(md) == perCharGate(md), s"page $i")
    }
  }

  test("every gate flag is set by some trigger string") {
    val samples = Seq("#", ".", " \n", "\n\n", "&", "http", "\\[", "\\begin{x}",
      "\\begin{tabular}", "[leftmargin=*]", "\\end{x}", "- a", "a - b", "[FOOTNOTE:",
      "* [1]", "# " + "x" * 100, "# 1", "##", "a #")
    val union = samples.map(Postprocess.gateFlags).reduce((a, b) => a.zip(b).map(t => t._1 || t._2))
    assert(union.forall(identity))
    samples.foreach(s => assert(Postprocess.gateFlags(s) == perCharGate(s), s))
  }

  // ---- truncateRepetitions --------------------------------------------------

  private def fold(c: Char): Char = Character.toLowerCase(Character.toUpperCase(c))

  /** Quadratic reference: the smallest L ∈ [minLen, n/2] such that the
    * string ends in two fold-equal copies of an L-chunk, then the same
    * start extension and sentence-boundary cut. */
  private def naiveTruncate(s: String, minLen: Int = 30): String = {
    val n = s.length
    def eq(a: Int, b: Int, len: Int) = (0 until len).forall(k => fold(s(a + k)) == fold(s(b + k)))
    val period = (minLen to n / 2).find(l => eq(n - 2 * l, n - l, l))
    period match {
      case None => s
      case Some(l) =>
        var start = n - l
        while (start > 0 && fold(s(start - 1)) == fold(s(start - 1 + l))) start -= 1
        val keepEnd = start + l
        def isEnder(c: Char) = c == '.' || c == '!' || c == '?'
        val endsClean =
          (keepEnd >= 1 && isEnder(s(keepEnd - 1))) ||
          (keepEnd >= 2 && s(keepEnd - 1).isWhitespace && isEnder(s(keepEnd - 2)))
        val cut =
          if (endsClean) keepEnd
          else (keepEnd until math.min(keepEnd + l, n))
            .find(j => isEnder(s(j)) && (j + 1 >= n || s(j + 1).isWhitespace))
            .map(_ + 1).getOrElse(keepEnd)
        s.substring(0, cut).stripTrailing()
    }
  }

  /** Mixed-case letters whose fold is not plain ASCII lowercasing. */
  private val unitChar = Gen.frequency(
    8 -> Gen.oneOf('a', 'b', 'A', 'B', 'i', 'I', 's', 'S', 'k', 'K', ' ', '.', '-'),
    2 -> Gen.oneOf('ı', 'ſ', 'K', 'İ', 'µ', 'μ', 'ß'))

  private def recase(c: Char, flip: Boolean): Char =
    if (!flip) c
    else if (c == 'i') 'ı' else if (c == 's') 'ſ' else if (c == 'k') 'K'
    else if (c.isUpper) c.toLower else c.toUpper

  private val periodic: Gen[String] = for {
    prefix <- Gen.listOf(unitChar).map(_.mkString)
    unitLen <- Gen.choose(1, 70)
    unit <- Gen.listOfN(unitLen, unitChar).map(_.mkString)
    copies <- Gen.choose(1, 5)
    flips <- Gen.listOfN(copies * unitLen, Gen.frequency(3 -> false, 1 -> true))
    trim <- Gen.choose(0, 10)
  } yield {
    val body = (unit * copies).zip(flips).map { case (c, f) => recase(c, f) }.mkString
    prefix + body.dropRight(trim min body.length)
  }

  /** Candidate-dense tails: dash runs make the 30-char suffix recur at
    * every offset, which forces the Z-array path. */
  private val dashy: Gen[String] = for {
    prefix <- Gen.listOf(unitChar).map(_.mkString)
    k <- Gen.choose(1, 6)
    parts <- Gen.listOfN(k, Gen.frequency(
      3 -> Gen.choose(30, 120).map("-" * _), 1 -> Gen.listOfN(3, unitChar).map(_.mkString)))
    unit = parts.mkString
    copies <- Gen.choose(1, 3)
  } yield prefix + (unit * copies)

  test("property: truncateRepetitions equals the naive reference on periodic mixed-case strings") {
    check(Prop.forAll(periodic) { s => Postprocess.truncateRepetitions(s) == naiveTruncate(s) }, 3000)
  }

  test("property: truncateRepetitions equals the naive reference on candidate-dense dash tails") {
    check(Prop.forAll(dashy) { s => Postprocess.truncateRepetitions(s) == naiveTruncate(s) }, 400)
  }

  test("supplementary letters fold per UTF-16 unit on the scan path and the Z path alike") {
    // Deseret capital/small pairs U+10400/U+10428 and U+10401/U+10429:
    // equal by code-point case folding, different per UTF-16 unit
    val upper = "\uD801\uDC00\uD801\uDC01"
    val lower = "\uD801\uDC28\uD801\uDC29"
    val intro = "Intro paragraph stays here. "
    // prose unit: the 30-char suffix recurs once, so the scan decides; a
    // period found there would cut after "unit." in the second copy
    def prose(d: String) = d + " Opening words of the unit. Then a trailing clause without an end "
    // dash unit (trailing space stripped below): the 30-char suffix
    // recurs at >64 offsets with failing verifies, so the Z-array
    // fallback decides
    def dashes(d: String) = d + " Opening words of the unit. " + ("-" * 200) + " x " + ("-" * 45) + " "
    for (unit <- Seq(prose _, dashes _)) {
      val differ = (intro + unit(upper) + unit(lower)).stripTrailing()
      assert(Postprocess.truncateRepetitions(differ) == differ)
      assert(naiveTruncate(differ) == differ)
      val same = (intro + unit(lower) + unit(lower)).stripTrailing()
      val out = Postprocess.truncateRepetitions(same)
      assert(out == naiveTruncate(same))
      assert(out.length < same.length && out.startsWith(intro + unit(lower)))
    }
  }

  /** boundedSim without the histogram reject. */
  private def dpBoundedSim(a: String, b: String, minSim: Double): Double = {
    if (a == b) return 1.0
    val m = math.max(a.length, b.length)
    if (m == 0) return 1.0
    val budget = (m * (1.0 - minSim)).toInt
    if (math.abs(a.length - b.length) > budget) return -1.0
    val d = Distance.levenshtein(a, b, maxDist = budget + 1)
    if (d > budget) -1.0 else 1.0 - d.toDouble / m
  }

  test("property: the histogram reject never changes boundedSim on near-duplicate lines") {
    val base = Gen.choose(0, 80).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' ', '.', 'x', '1', 'A', 'é', '中')))
    val edit = Gen.zip(Gen.choose(0, 2), Gen.choose(0, 79), Gen.oneOf('a', 'z', ' ', 'Q', 'é'))
    val g = for {
      b <- base; k <- Gen.choose(0, 16); es <- Gen.listOfN(k, edit)
      minSim <- Gen.oneOf(0.9, 0.8, 0.5)
    } yield {
      val line = b.mkString
      val edited = es.foldLeft(line) { case (l, (op, at, c)) =>
        val p = at % (l.length + 1)
        op match {
          case 0 => l.substring(0, p) + c + l.substring(p)
          case 1 => if (p < l.length) l.substring(0, p) + l.substring(p + 1) else l
          case _ => if (p < l.length) l.substring(0, p) + c + l.substring(p + 1) else l
        }
      }
      (line, edited, minSim)
    }
    check(Prop.forAll(g) { case (a, b, minSim) =>
      Postprocess.boundedSim(a, b, minSim) == dpBoundedSim(a, b, minSim)
    }, 5000)
  }
}
