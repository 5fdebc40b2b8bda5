package graft.corpus

import graft.model.{Doc, Kinds, Span}

/** Deterministic synthetic corpus of interleaved text+media documents
  * (FIXTURES.md §1). Every document is a pure function of (seed, doc_id) via
  * splitmix64, so generation is embarrassingly parallel (spark.range →
  * map), reproducible across partitionings, and needs no stored input — the
  * 10^12-document story is "generate ids, map to docs" with zero shuffle.
  *
  * Populations mirror the reference's fixture classes: model-style
  * layout-JSON pages (some with leading prose, some truncated at a fake
  * max_tokens — modal_gpu.py's real-world failure modes), HTML pages with
  * boilerplate chrome, markdown pages, plus media spans (some chart-shaped
  * with a deterministic `?md=` data payload). Span counts are heavy-tailed
  * so skew handling (the hash exchange) is actually exercised.
  */
object Synth {

  final val DefaultSeed = 42L

  /** splitmix64 — public-domain PRNG step (Steele et al., JDK SplittableRandom). */
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s += 0x9e3779b97f4a7c15L; splitmix64(s) }
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt // >>>1 ⇒ non-negative
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.length))
  }

  private val wordBank: Vector[String] = Vector(
    "ledger", "invoice", "summary", "report", "quarter", "total", "revenue",
    "district", "officer", "probation", "schedule", "annex", "form", "rule",
    "section", "clause", "figure", "table", "medal", "nation", "ranking",
    "gold", "silver", "bronze", "record", "page", "document", "extract",
    "layout", "span", "batch", "stream", "column", "order", "filter")

  private def sentence(r: Rng, nWords: Int): String =
    (0 until nWords).map(_ => r.pick(wordBank)).mkString(" ")

  // ---------- layout-JSON page (model-output shape) ----------

  def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Generate a model-style layout JSON array with stacked + same-line
    * geometry; ~20% of pages are two-column with the columns' elements
    * interleaved in the array (so reading-order reconstruction is
    * non-trivial, not a pass-through). May be prefixed with prose or
    * truncated, like real generations. */
  def layoutJsonPage(r: Rng): String = {
    if (r.nextInt(5) == 0) return twoColumnPage(r)
    val n = 3 + r.nextInt(10)
    var y = 80.0 + r.nextInt(60)
    val parts = Vector.newBuilder[String]
    var i = 0
    while (i < n) {
      val cat = r.nextInt(10) match {
        case 0 => "Title"
        case 1 => "Section-header"
        case 2 | 3 => "List-item"
        case 4 => "Picture"
        case 5 => "Table"
        case _ => "Text"
      }
      val h = 30 + r.nextInt(60)
      val x1 = 80 + r.nextInt(120)
      val x2 = x1 + 300 + r.nextInt(700)
      val bbox = s"[$x1, ${y.toInt}, $x2, ${(y + h).toInt}]"
      val text = cat match {
        case "Picture" => ""
        case "Table" =>
          Tables.synthHtmlTable(r)
        case _ => sentence(r, 3 + r.nextInt(12))
      }
      parts += s"""{"bbox": $bbox, "category": "$cat", "text": "${jsonEscape(text)}"}"""
      y += h + 14 + r.nextInt(40)
      i += 1
    }
    val body = parts.result().mkString("[", ", ", "]")
    r.nextInt(100) match {
      case g if g < 5 => // leading prose before the array (recovery fixture shape)
        "Here is the extracted layout for the requested page.\n\n" + body
      case g if g < 8 => // truncated at a fake max_tokens boundary
        body.substring(0, (body.length * (0.5 + 0.4 * r.nextDouble())).toInt.max(2))
      case _ => body
    }
  }

  /** Two-column page: a full-width title, then left/right columns whose
    * elements are interleaved in array order — XY-cut must split the
    * columns and read left before right. */
  private def twoColumnPage(r: Rng): String = {
    val parts = Vector.newBuilder[String]
    parts += s"""{"bbox": [80, 60, 1200, 110], "category": "Title", "text": "${jsonEscape(sentence(r, 4))}"}"""
    val nPerCol = 2 + r.nextInt(4) // balanced columns: both sides run the
    // full column height, so the XY-cut row-span gate sees real columns
    def column(x1: Int, x2: Int): Vector[String] = {
      var y = 150.0
      val out = Vector.newBuilder[String]
      (0 until nPerCol).foreach { _ =>
        val h = 40 + r.nextInt(80)
        val cat = if (r.nextInt(4) == 0) "List-item" else "Text"
        out += s"""{"bbox": [$x1, ${y.toInt}, $x2, ${(y + h).toInt}], "category": "$cat", "text": "${jsonEscape(sentence(r, 6 + r.nextInt(10)))}"}"""
        y += h + 16 + r.nextInt(20)
      }
      out.result()
    }
    val left = column(80, 580)
    val right = column(700, 1200)
    // interleave so array order != reading order
    val mixed = left.zipAll(right, "", "").flatMap { case (a, b) => Seq(a, b) }
      .filter(_.nonEmpty)
    (parts.result() ++ mixed).mkString("[", ", ", "]")
  }

  private object Tables {
    def synthHtmlTable(r: Rng): String = {
      val cols = 2 + r.nextInt(4)
      val rows = 2 + r.nextInt(5)
      val sb = new StringBuilder("<table><thead><tr>")
      (0 until cols).foreach(_ => sb.append("<th>").append(r.pick(wordBank)).append("</th>"))
      sb.append("</tr></thead><tbody>")
      (0 until rows).foreach { _ =>
        sb.append("<tr>")
        (0 until cols).foreach(_ => sb.append("<td>").append(r.nextInt(5000)).append("</td>"))
        sb.append("</tr>")
      }
      sb.append("</tbody></table>").toString
    }
  }

  // ---------- HTML page with boilerplate chrome ----------

  def htmlPage(r: Rng): String = {
    val sb = new StringBuilder("<html><body>")
    sb.append("""<nav class="nav"><a href="/">home</a><a href="/a">a</a><a href="/b">b</a></nav>""")
    if (r.nextInt(2) == 0)
      sb.append("""<div class="sidebar"><a href="/x">x</a><a href="/y">y</a> promo</div>""")
    sb.append("<article>")
    sb.append("<h1>").append(sentence(r, 3)).append("</h1>")
    val blocks = 2 + r.nextInt(6)
    (0 until blocks).foreach { _ =>
      r.nextInt(5) match {
        case 0 => sb.append("<h2>").append(sentence(r, 3)).append("</h2>")
        case 1 =>
          sb.append("<ul>")
          (0 until 2 + r.nextInt(3)).foreach(_ =>
            sb.append("<li>").append(sentence(r, 4)).append("</li>"))
          sb.append("</ul>")
        case 2 =>
          sb.append("<table><tr><th>k</th><th>v</th></tr>")
          (0 until 1 + r.nextInt(3)).foreach(_ =>
            sb.append("<tr><td>").append(r.pick(wordBank)).append("</td><td>")
              .append(r.nextInt(1000)).append("</td></tr>"))
          sb.append("</table>")
        case _ => sb.append("<p>").append(sentence(r, 12 + r.nextInt(30))).append("</p>")
      }
    }
    sb.append("</article><footer>").append(1 + r.nextInt(40)).append("</footer></body></html>")
    sb.toString
  }

  // ---------- markdown page ----------

  def markdownPage(r: Rng): String = {
    val sb = new StringBuilder
    sb.append("# ").append(sentence(r, 3)).append("\n\n")
    val blocks = 2 + r.nextInt(5)
    (0 until blocks).foreach { _ =>
      r.nextInt(5) match {
        case 0 => sb.append("## ").append(sentence(r, 3)).append("\n\n")
        case 1 =>
          (0 until 2 + r.nextInt(3)).foreach(_ =>
            sb.append("- ").append(sentence(r, 4)).append("\n"))
          sb.append("\n")
        case 2 =>
          sb.append("| rank | name | score |\n|---|---|---|\n")
          (0 until 2 + r.nextInt(4)).foreach(i =>
            sb.append(s"| ${i + 1} | ${r.pick(wordBank)} | ${r.nextInt(100)} |\n"))
          sb.append("\n")
        case _ => sb.append(sentence(r, 15 + r.nextInt(25))).append("\n\n")
      }
    }
    sb.toString
  }

  // ---------- media spans ----------

  def mediaRefFor(r: Rng, chart: Boolean): String = {
    val x1 = 80 + r.nextInt(300)
    val y1 = 80 + r.nextInt(800)
    val (w, h) =
      if (chart) (150 + r.nextInt(500), 150 + r.nextInt(300)) // chart-shaped (P3 passes)
      else if (r.nextInt(3) == 0) (40 + r.nextInt(50), 40 + r.nextInt(50)) // too small
      else (120 + r.nextInt(600), 90 + r.nextInt(400))
    val base = s"synth://img/$x1,$y1,${x1 + w},${y1 + h}"
    if (chart) {
      // leading/trailing pipes like markdownPage: a 2-col row without them
      // splits to only 2 cells and parseMarkdownTable (faithful >=3-cell
      // reference rule) would reject every row — the chart would silently
      // never structure
      val cols = 2 + r.nextInt(3)
      val md = new StringBuilder("| cat")
      (1 until cols).foreach(i => md.append(" | s").append(i))
      md.append(" |\n|---").append("|---" * (cols - 1)).append("|\n")
      (0 until 2 + r.nextInt(3)).foreach { _ =>
        md.append("| ").append(r.pick(wordBank))
        (1 until cols).foreach(_ => md.append(" | ").append(r.nextInt(900)))
        md.append(" |\n")
      }
      base + "?md=" + java.net.URLEncoder.encode(md.toString, "UTF-8")
    } else base
  }

  // ---------- document assembly ----------

  /** Heavy-tailed page count: mostly 1-3 pages, ~4% up to 40, ~0.4% up to 250
    * (the "oversized PDF" skew the north rule requires defusing). */
  def pageCount(r: Rng): Int = {
    val u = r.nextDouble()
    if (u < 0.96) 1 + r.nextInt(3)
    else if (u < 0.996) 4 + r.nextInt(37)
    else 50 + r.nextInt(201)
  }

  def docFor(seed: Long, id: Long): Doc = {
    val r = new Rng(splitmix64(seed ^ (id * 0xc2b2ae3d27d4eb4fL)))
    val nPages = pageCount(r)
    val spans = Vector.newBuilder[Span]
    var off = 0
    var p = 0
    while (p < nPages) {
      val page = r.nextInt(10) match {
        case 0 | 1 | 2 | 3 => layoutJsonPage(r)
        case 4 | 5 | 6 => markdownPage(r)
        case _ => htmlPage(r)
      }
      spans += Span(Kinds.TextKind, page, "", off)
      off += 1
      // 0-2 media spans attached to this page; ~1/3 of media are charts
      val nMedia = r.nextInt(10) match {
        case 0 | 1 | 2 => 1
        case 3 => 2
        case _ => 0
      }
      var m = 0
      while (m < nMedia) {
        val chart = r.nextInt(3) == 0
        spans += Span(Kinds.MediaKind, "", mediaRefFor(r, chart), off)
        off += 1
        m += 1
      }
      p += 1
    }
    Doc(s"doc_${"%012d".format(id)}", spans.result())
  }
}
