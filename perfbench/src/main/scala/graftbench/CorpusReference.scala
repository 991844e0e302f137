package graftbench

/** What `CorpusJob` must produce from an extract table, computed in
  * plain Scala in the benchmark process rather than read from the job's
  * `Summary`: template scrub (a trimmed non-empty line on at least 40% of a host's
  * pages, and on at least two, is removed from every page of the host),
  * exact dedup (the least url per markdown survives) and the quality
  * gate (at least 10 whitespace tokens).
  *
  * Lines are split on "\n" keeping trailing empty ones and trimmed of
  * spaces only, as Spark's `split` and `trim` do; tokens are the runs
  * between whitespace after trimming spaces, as graft's tokenizer
  * counts them.
  */
final case class CorpusReference(
    templateLines: Long,
    scrubbed: Map[String, String],
    dupDropped: Long,
    qualityDropped: Long,
    corpus: Map[String, String])

object CorpusReference {
  val MinPageRatio = 0.4
  val MinTokens = 10

  private val HostRe = java.util.regex.Pattern.compile("(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)")
  private val WsRun = java.util.regex.Pattern.compile("\\s+")

  def host(url: String): String = {
    val m = HostRe.matcher(url)
    val h = if (m.find()) m.group(1).toLowerCase(java.util.Locale.ROOT) else ""
    if (h.isEmpty) url else h
  }

  private def trimSpaces(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }

  def tokens(md: String): Int = WsRun.split(trimSpaces(md), -1).length

  /** The reference for `docs`, the (url, markdown) rows of the extract
    * table that came back ok. */
  def apply(docs: Seq[(String, String)]): CorpusReference = {
    var templateLines = 0L
    val scrubbed = docs.groupBy { case (url, _) => host(url) }.values.flatMap { pages =>
      val lines = pages.map { case (url, md) => url -> md.split("\n", -1) }
      val onPages = lines.flatMap { case (_, ls) => ls.map(trimSpaces).filter(_.nonEmpty).distinct }
        .groupBy(identity).map { case (l, xs) => l -> xs.length }
      val templates = onPages.collect {
        case (l, n) if n >= 2 && n.toDouble / pages.length >= MinPageRatio => l
      }.toSet
      templateLines += templates.size
      lines.map { case (url, ls) => url -> ls.filterNot(l => templates(trimSpaces(l))).mkString("\n") }
    }.toMap
    val winners = scrubbed.groupBy(_._2).values.map(_.minBy(_._1)).toSeq
    val corpus = winners.filter { case (_, md) => tokens(md) >= MinTokens }.toMap
    CorpusReference(templateLines, scrubbed, scrubbed.size - winners.size.toLong,
      winners.size.toLong - corpus.size, corpus)
  }
}
