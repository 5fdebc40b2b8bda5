package graft.kernel

import graft.model.Element
import scala.collection.mutable.ArrayBuffer

/** HTML-ish page parsing with DOM-tree text-density boilerplate stripping.
  *
  * The reference pipeline consumes rendered page images, so its "boilerplate"
  * handling lives in the model prompt (headers/footers get their own
  * categories, modal_gpu.py:62). For web-style interleaved documents the
  * north rule requires explicit main-content extraction: this module parses a
  * lightweight DOM, scores block nodes with a text-density heuristic in the
  * spirit of Sun et al.'s CETD / boilerpipe (public algorithms), drops
  * chrome/boilerplate subtrees, and maps surviving blocks to layout Elements
  * with deterministic synthesized geometry (so ReadingOrder and the rest of
  * the kernel treat all page sources identically).
  */
object Boilerplate {

  // ---- minimal DOM ----
  sealed trait Node
  final case class Tag(name: String, attrs: Map[String, String],
                       children: ArrayBuffer[Node]) extends Node
  final case class TextNode(text: String) extends Node

  private val voidTags = Set("img", "br", "hr", "meta", "link", "input")
  private val rawTextTags = Set("script", "style")

  /** Lean, fail-safe HTML tokenizer + tree builder. Unclosed tags are
    * auto-closed; unknown constructs degrade to text. Never throws. */
  def parseHtml(html: String): Tag = {
    val root = Tag("#root", Map.empty, ArrayBuffer.empty)
    val stack = scala.collection.mutable.Stack[Tag](root)
    var i = 0
    val n = html.length
    // lowercased once: raw-text close-tag scans previously re-lowercased
    // the whole page per script/style tag (O(tags × pageLen) allocations)
    lazy val htmlLower = html.toLowerCase
    val text = new StringBuilder
    def flushText(): Unit = {
      val t = text.toString
      if (trimmedLength(t) > 0) stack.top.children += TextNode(decodeEntities(t))
      text.clear()
    }
    while (i < n) {
      val c = html.charAt(i)
      if (c != '<') {
        // bulk text run: append up to the next '<' in one slice instead of
        // char-by-char (the majority of page bytes take this path). The
        // java.lang.StringBuilder 3-arg overload is called explicitly via
        // `underlying` — on the Scala wrapper, (s, i, stop) silently
        // auto-tuples into append(Any) and corrupts the text
        val j = html.indexOf('<', i)
        val stop = if (j < 0) n else j
        text.underlying.append(html, i, stop)
        i = stop
      } else if (i + 1 < n) {
        val next = html.charAt(i + 1)
        if (next == '!' || next == '?') { // comment/doctype: skip to '>'
          flushText()
          val end = html.indexOf('>', i)
          i = if (end < 0) n else end + 1
        } else if (next == '/') { // closing tag
          flushText()
          val end = html.indexOf('>', i)
          val name = html.substring(i + 2, if (end < 0) n else end).trim.toLowerCase
          // pop to matching open tag if present
          if (stack.exists(t => t.name == name)) {
            while (stack.top.name != name && stack.size > 1) stack.pop()
            if (stack.size > 1) stack.pop()
          }
          i = if (end < 0) n else end + 1
        } else if (next.isLetter) { // opening tag
          flushText()
          val end = html.indexOf('>', i)
          if (end < 0) { i = n } // malformed tail: drop
          else {
            var inner = html.substring(i + 1, end)
            val selfClosed = inner.endsWith("/")
            if (selfClosed) inner = inner.dropRight(1)
            val (name, attrs) = parseTagInner(inner)
            val tag = Tag(name, attrs, ArrayBuffer.empty)
            stack.top.children += tag
            if (!selfClosed && !voidTags.contains(name)) {
              if (rawTextTags.contains(name)) {
                // consume raw text up to the matching close tag
                val close = s"</$name"
                val j = htmlLower.indexOf(close, end + 1)
                val stop = if (j < 0) n else j
                tag.children += TextNode(html.substring(end + 1, stop))
                val gt = html.indexOf('>', stop)
                i = if (gt < 0) n else gt + 1
              } else {
                stack.push(tag)
                i = end + 1
              }
            } else i = end + 1
          }
        } else { text.append(c); i += 1 }
      } else { text.append(c); i += 1 }
    }
    flushText()
    root
  }

  // precompiled: this runs once per tag; a method-local Regex would
  // recompile the pattern every call (measured 3x page cost)
  private val attrRe =
    """([A-Za-z_:][-A-Za-z0-9_:.]*)\s*=\s*("([^"]*)"|'([^']*)'|([^\s"'>]+))""".r

  private def parseTagInner(inner: String): (String, Map[String, String]) = {
    val trimmed = inner.trim
    val sp = trimmed.indexWhere(_.isWhitespace)
    if (sp < 0) (trimmed.toLowerCase, Map.empty)
    else {
      val name = trimmed.substring(0, sp).toLowerCase
      // attrRe requires an '=': tags without one (e.g. <article anything>)
      // can skip the regex scan and its substring allocation entirely
      if (trimmed.indexOf('=', sp) < 0) (name, Map.empty)
      else {
        val attrs = Map.newBuilder[String, String]
        for (m <- attrRe.findAllMatchIn(trimmed.substring(sp))) {
          val v = Option(m.group(3)).orElse(Option(m.group(4))).orElse(Option(m.group(5))).getOrElse("")
          attrs += m.group(1).toLowerCase -> v
        }
        (name, attrs.result())
      }
    }
  }

  def decodeEntities(s: String): String =
    // fast path: no '&' means no entity can match — skip the five chained
    // replace() calls, each of which allocates a full copy of the string
    if (s.indexOf('&') < 0) s
    else s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&#39;", "'").replace("&amp;", "&")

  // ---- text-density boilerplate scoring ----

  private val chromeTags = Set("nav", "aside", "script", "style", "form", "iframe")
  private val chromeClassRe =
    """(?i)\b(nav|menu|sidebar|banner|advert|ads?|cookie|footer-links|share|social|promo|related)\b""".r

  /** `s.trim.length` without allocating the trimmed copy (String.trim
    * semantics: both ends strip chars <= U+0020). */
  private def trimmedLength(s: String): Int = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) <= ' ') a += 1
    while (b > a && s.charAt(b - 1) <= ' ') b -= 1
    b - a
  }

  final case class Stats(textLen: Int, linkTextLen: Int, tagCount: Int) {
    def density: Double = textLen.toDouble / math.max(1, tagCount)
    def linkDensity: Double = if (textLen == 0) 1.0 else linkTextLen.toDouble / textLen
  }

  /** Subtree stats, memoized: the extractor walks every level of the tree
    * and asks for stats at each tag, which is O(depth·n) without the memo
    * (measured on deep pages). */
  private def stats(node: Node, memo: java.util.IdentityHashMap[Node, Stats]): Stats = {
    val hit = memo.get(node)
    if (hit != null) return hit
    val out = node match {
      case TextNode(t) => Stats(trimmedLength(t), 0, 0)
      case Tag(name, _, children) =>
        val base = children.foldLeft(Stats(0, 0, 1)) { (acc, ch) =>
          val s = stats(ch, memo)
          Stats(acc.textLen + s.textLen, acc.linkTextLen + s.linkTextLen,
            acc.tagCount + s.tagCount)
        }
        if (name == "a") base.copy(linkTextLen = base.textLen) else base
    }
    memo.put(node, out)
    out
  }

  private val genericContainers = Set("div", "section", "span")

  /** Is this subtree boilerplate? Chrome tags, chrome-classed containers, and
    * link-dense low-text blocks are dropped; main/article always kept. The
    * bare text-density floor applies only to generic containers — semantic
    * content tags (ul, table, p, h*) are legitimate even when terse.
    * `memo` caches subtree [[Stats]] across the calls of one page walk. */
  private[kernel] def isBoilerplate(
      t: Tag, memo: java.util.IdentityHashMap[Node, Stats]): Boolean = {
    if (t.name == "main" || t.name == "article") return false
    if (chromeTags.contains(t.name)) return true
    val cls = t.attrs.getOrElse("class", "") + " " + t.attrs.getOrElse("id", "")
    if (chromeClassRe.findFirstIn(cls).isDefined) return true
    val s = stats(t, memo)
    (s.linkDensity > 0.5 && s.textLen < 200) ||
      (genericContainers.contains(t.name) &&
        s.textLen < 25 && s.density < 10 && s.textLen > 0)
  }

  // ---- block extraction → Elements ----

  private val headingRe = "^h([1-6])$".r

  private val wsRun = java.util.regex.Pattern.compile("\\s+")

  def innerText(node: Node): String = node match {
    case TextNode(t) => t
    case Tag(name, _, _) if rawTextTags.contains(name) => ""
    case Tag(_, _, ch) =>
      wsRun.matcher(ch.map(innerText).mkString(" ")).replaceAll(" ").trim
  }

  /** Deterministic synthesized page geometry: 1280-wide page, 80px margins,
    * blocks stacked with 12px gaps; text wraps at ~80 chars/line, 28px lines. */
  final class Layout {
    private var y = 80.0
    val x1 = 80.0
    val x2 = 1200.0
    def place(lines: Int, blockGap: Double = 12.0): (Double, Double) = {
      val h = math.max(1, lines) * 28.0
      val top = y
      y += h + blockGap
      (top, top + h)
    }
  }

  private def textLines(t: String): Int = math.max(1, (t.length + 79) / 80)

  /** Extract the reading-ordered, boilerplate-stripped Elements of an
    * HTML-ish page. */
  def extract(html: String): Vector[Element] = {
    val root = parseHtml(html)
    val statsCache = new java.util.IdentityHashMap[Node, Stats]()
    val out = Vector.newBuilder[Element]
    val layout = new Layout
    def emit(category: String, text: String, mediaRef: String = "", lines: Int = -1): Unit = {
      val (t, b) = layout.place(if (lines > 0) lines else textLines(text))
      out += Element(layout.x1, t, layout.x2, b, category, text, mediaRef)
    }
    def walk(node: Node): Unit = node match {
      case TextNode(t) =>
        val s = wsRun.matcher(t).replaceAll(" ").trim
        if (s.nonEmpty) emit("Text", s)
      case tag @ Tag(name, attrs, children) =>
        if (isBoilerplate(tag, statsCache) && name != "header" && name != "footer") return
        name match {
          case "header" =>
            val txt = innerText(tag)
            if (txt.nonEmpty) emit("Page-header", txt, lines = 1)
          case "footer" =>
            val txt = innerText(tag)
            if (txt.nonEmpty) emit("Page-footer", txt, lines = 1)
          case headingRe(lvl) =>
            val txt = innerText(tag)
            if (txt.nonEmpty)
              emit(if (lvl == "1") "Title" else "Section-header", txt, lines = 1)
          case "p" =>
            val txt = innerText(tag)
            if (txt.nonEmpty) emit("Text", txt)
          case "li" =>
            val txt = innerText(tag)
            if (txt.nonEmpty) emit("List-item", txt, lines = 1)
          case "figcaption" | "caption" =>
            val txt = innerText(tag)
            if (txt.nonEmpty) emit("Caption", txt, lines = 1)
          case "img" =>
            val src = attrs.getOrElse("src", "")
            val h = attrs.get("height").flatMap(_.toDoubleOption).getOrElse(300.0)
            emit("Picture", "", mediaRef = src, lines = math.max(1, (h / 28.0).toInt))
          case "table" =>
            val rows = tableRows(tag)
            if (rows.nonEmpty)
              emit("Table", Tables.toHtml(rows), lines = rows.length + 1)
          case "pre" | "code" if attrs.getOrElse("class", "").contains("math") =>
            val txt = innerText(tag)
            if (txt.nonEmpty) emit("Formula", txt, lines = 1)
          case _ =>
            children.foreach(walk)
        }
    }
    root.children.foreach(walk)
    out.result()
  }

  /** Collect <tr>/<th|td> rows of a table subtree (row-major, cell text). */
  def tableRows(table: Tag): Vector[Vector[String]] = {
    val rows = Vector.newBuilder[Vector[String]]
    def findRows(node: Node): Unit = node match {
      case t @ Tag("tr", _, ch) =>
        val cells = ch.collect {
          case c @ Tag(n, _, _) if n == "td" || n == "th" => innerText(c)
        }.toVector
        if (cells.nonEmpty) rows += cells
      case Tag(_, _, ch) => ch.foreach(findRows)
      case _ =>
    }
    table.children.foreach(findRows)
    rows.result()
  }
}
