package graft.html

/** Lightweight DOM. Immutable view after build; children ordered.
  * `children` is an ArraySeq (one array copy when the element closes — Vector
  * tree construction was a measurable share of per-doc allocation).
  */
sealed trait DomNode
final case class DomText(text: String) extends DomNode
final case class DomElem(tag: String, attrs: Map[String, String], children: IndexedSeq[DomNode]) extends DomNode {
  def attr(name: String): Option[String] = attrs.get(name)
  def classes: Set[String] =
    attrs.get("class").map(DomElem.wsRun.split(_).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
}

object DomElem {
  /** `String.split("\\s+")` compiles its pattern per call; this is it, once. */
  private val wsRun = java.util.regex.Pattern.compile("\\s+")
}

/** Token stream → tree, with WHATWG-subset implied-end-tag handling
  * (auto-close p/li/dt/dd/tr/td/th/option…), void elements, unmatched
  * end-tag tolerance, and hard depth/node caps so a pathological page
  * cannot blow the heap (the scale analog of the reference's per-paper
  * timeout R4, split_htmls_to_pages.py:140-157).
  */
object DomBuilder {

  val voidTags: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")

  private val pClosers: Set[String] = Set(
    "address", "article", "aside", "blockquote", "details", "div", "dl",
    "fieldset", "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "main", "menu",
    "nav", "ol", "p", "pre", "section", "table", "ul",
    // li/dt/dd start tags also imply </p> (WHATWG button-scope rule)
    "li", "dt", "dd")

  /** Does opening `incoming` implicitly close an open `top`? */
  private def impliedEnd(top: String, incoming: String): Boolean = top match {
    case "p"            => pClosers.contains(incoming)
    case "li"           => incoming == "li"
    case "dt" | "dd"    => incoming == "dt" || incoming == "dd"
    case "tr"           => incoming == "tr" || incoming == "thead" || incoming == "tbody" || incoming == "tfoot"
    case "td" | "th"    => incoming == "td" || incoming == "th" || incoming == "tr" ||
                           incoming == "thead" || incoming == "tbody" || incoming == "tfoot"
    case "thead" | "tbody" | "tfoot" =>
      incoming == "thead" || incoming == "tbody" || incoming == "tfoot"
    case "option"       => incoming == "option" || incoming == "optgroup"
    case "caption"      => incoming == "thead" || incoming == "tbody" || incoming == "tr"
    case _              => false
  }

  val defaultMaxDepth = 256
  val defaultMaxNodes = 1 << 20

  /** Never throws. Always returns a root element ("#root"). */
  def build(tokens: Iterable[HToken],
            maxDepth: Int = defaultMaxDepth,
            maxNodes: Int = defaultMaxNodes): DomElem = {
    // open elements, root first: tag, attributes, and where their
    // children start in `kids`, the one shared stack of pending children
    var tags = new Array[String](16)
    var attrs = new Array[Map[String, String]](16)
    var firstKid = new Array[Int](16)
    var depth = 1
    tags(0) = "#root"; attrs(0) = Map.empty
    var kids = new Array[DomNode](64)
    var nKids = 0
    var nodes = 0

    def add(node: DomNode): Unit = {
      if (nKids == kids.length) kids = java.util.Arrays.copyOf(kids, nKids * 2)
      kids(nKids) = node
      nKids += 1
    }

    def open(tag: String, a: Map[String, String]): Unit = {
      if (depth == tags.length) {
        tags = java.util.Arrays.copyOf(tags, depth * 2)
        attrs = java.util.Arrays.copyOf(attrs, depth * 2)
        firstKid = java.util.Arrays.copyOf(firstKid, depth * 2)
      }
      tags(depth) = tag; attrs(depth) = a; firstKid(depth) = nKids
      depth += 1
    }

    /** The children of the open element at `d`, popped off `kids`. */
    def children(d: Int): IndexedSeq[DomNode] = {
      val from = firstKid(d)
      val cs =
        if (from == nKids) Vector.empty
        else scala.collection.immutable.ArraySeq.unsafeWrapArray(
          java.util.Arrays.copyOfRange(kids, from, nKids))
      nKids = from
      cs
    }

    def closeTop(): Unit = {
      depth -= 1
      add(DomElem(tags(depth), attrs(depth), children(depth)))
    }

    val it = tokens.iterator
    while (it.hasNext && nodes < maxNodes) {
      it.next() match {
        case TextTok(t) =>
          add(DomText(t))
          nodes += 1

        case StartTag(name, as, selfClosing) =>
          while (depth > 1 && impliedEnd(tags(depth - 1), name)) closeTop()
          val amap = attrMap(as)
          if (voidTags.contains(name) || selfClosing || depth >= maxDepth)
            add(DomElem(name, amap, Vector.empty)) // beyond the depth cap: flattened
          else open(name, amap)
          nodes += 1

        case EndTag(name) =>
          // </body> and </html> never close their frames: browsers route
          // trailing content back into body ("after body" insertion
          // mode), and closing here would silently drop it
          if (name != "body" && name != "html") {
            // find nearest open frame with this tag (skip #root at idx 0)
            var idx = depth - 1
            while (idx >= 1 && tags(idx) != name) idx -= 1
            if (idx >= 1) while (depth > idx) closeTop()
          }
        // unmatched end tag: ignored
      }
    }
    while (depth > 1) closeTop()
    DomElem(tags(0), attrs(0), children(0))
  }

  /** `as.toMap` without the builder for the common zero- and
    * one-attribute tags. */
  private def attrMap(as: List[(String, String)]): Map[String, String] = as match {
    case Nil => Map.empty
    case (k, v) :: Nil => new Map.Map1(k, v)
    case _ => as.toMap
  }

  def parse(html: String): DomElem = build(HtmlTokenizer.tokenize(html))
}
