package graft.kernel

import graft.model.{Doc, Element, FailureCodes, Kinds, Span}
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the pure kernel pieces (SURVEY.md §5 test plan). */
class KernelUnitSpec extends AnyFunSuite {

  // ---- Charts: P3 truth table from tests/test_chart_processing.py:87-113 ----
  private def pic(w: Double, h: Double, cat: String = "Picture") =
    Element(0, 0, w, h, cat, "")

  test("chart predicate truth table (test_chart_processing.py:81-118)") {
    assert(Charts.isLikelyChart(pic(500, 300)))          // valid chart
    assert(!Charts.isLikelyChart(pic(50, 50)))           // too small
    assert(!Charts.isLikelyChart(pic(800, 50)))          // aspect > 5 + h < 100
    assert(!Charts.isLikelyChart(pic(300, 300, "Text"))) // wrong category
    assert(Charts.isLikelyChart(pic(300, 300)))          // square ok
    assert(!Charts.isLikelyChart(pic(600, 100)))         // aspect 6 > 5
    assert(Charts.isLikelyChart(pic(500, 100)))          // aspect 5 boundary ok
  }

  test("chart with md payload gets Table inserted right after (test_single_page.py:286-291)") {
    val payload = java.net.URLEncoder.encode(
      "Category | A | B\n---------|---|---\nQ1 | 1 | 2\nQ2 | 3 | 4", "UTF-8")
    val chart = Element(100, 100, 500, 400, "Picture", "",
      s"synth://img/100,100,500,400?md=$payload")
    val txt = Element(100, 500, 500, 530, "Text", "after")
    val out = Charts.process(Seq(chart, txt))
    assert(out.map(_.category) == Seq("Picture", "Table", "Text"))
    val tbl = out(1)
    assert(tbl.x1 == 100 && tbl.y1 == 410 && tbl.x2 == 500 && tbl.y2 == 450) // [x1,y2+10,x2,y2+50]
    assert(tbl.text == "<table><thead><tr><th>Category</th><th>A</th><th>B</th></tr></thead>" +
      "<tbody><tr><td>Q1</td><td>1</td><td>2</td></tr><tr><td>Q2</td><td>3</td><td>4</td></tr></tbody></table>")
  }

  test("non-chart picture keeps no insert") {
    val small = Element(0, 0, 50, 50, "Picture", "", "synth://img/0,0,50,50?md=a%7Cb%7Cc")
    assert(Charts.process(Seq(small)).size == 1)
  }

  // ---- Tables: F9/F10 (tests/test_single_page.py:93-182) ----
  test("markdown table parse skips separator rows and trims cells") {
    val md = "| A | B | C |\n|---|---|---|\n| 1 | 2 | 3 |"
    assert(Tables.parseMarkdownTable(md).contains(
      Vector(Vector("A", "B", "C"), Vector("1", "2", "3"))))
  }

  test("markdown table needs >= 2 rows") {
    assert(Tables.parseMarkdownTable("| A | B | C |").isEmpty)
    assert(Tables.parseMarkdownTable("no table here").isEmpty)
  }

  test("category-value fallback requires digits and finance keyword") {
    val txt = "Revenue: 100, 200\nSales: 300; 400"
    assert(Tables.parseMarkdownTable(txt).contains(
      Vector(Vector("Revenue", "100", "200"), Vector("Sales", "300", "400"))))
    assert(Tables.parseMarkdownTable("Notes: abc, def\nMore: xyz").isEmpty)
  }

  test("blank line terminates table collection") {
    val md = "| A | B | C |\n| 1 | 2 | 3 |\n\n| X | Y | Z |\n| 4 | 5 | 6 |"
    assert(Tables.parseMarkdownTable(md).get.length == 2)
  }

  test("html serialization: thead/th + tbody/td") {
    assert(Tables.toHtml(Seq(Seq("H1", "H2"), Seq("a", "b"))) ==
      "<table><thead><tr><th>H1</th><th>H2</th></tr></thead>" +
        "<tbody><tr><td>a</td><td>b</td></tr></tbody></table>")
  }

  // ---- LayoutJson: F4/F5 tolerant parsing ----
  test("leading prose before the array is recovered (test_single_page.py:246-255)") {
    val out = LayoutJson.parse(
      """Sure, here is the layout: [{"bbox":[1,2,3,4],"category":"Text","text":"hi"}]""")
    assert(out.failureCode == FailureCodes.Ok)
    assert(out.elements == Vector(Element(1, 2, 3, 4, "Text", "hi")))
  }

  test("markdown fences are stripped (extraction_utils.py:94-99)") {
    val out = LayoutJson.parse(
      "```json\n[{\"bbox\":[0,0,1,1],\"category\":\"Title\",\"text\":\"t\"}]\n```")
    assert(out.failureCode == FailureCodes.Ok && out.elements.size == 1)
  }

  test("truncation keeps the complete prefix") {
    val out = LayoutJson.parse(
      """[{"bbox":[1,2,3,4],"category":"Text","text":"a"}, {"bbox":[5,6,7,8],"category":"Text","text":"trunc""")
    assert(out.failureCode == FailureCodes.Truncated)
    assert(out.elements.map(_.text) == Vector("a"))
  }

  test("no array at all -> JSON_RECOVERY_FAILED") {
    val out = LayoutJson.parse("just some prose, no array")
    assert(out.failureCode == FailureCodes.JsonRecoveryFailed)
    assert(out.elements.isEmpty)
  }

  test("structural validation drops bad elements (test_accuracy.py:74-99)") {
    val out = LayoutJson.parse(
      """[{"bbox":[1,2,3],"category":"Text","text":"short bbox"},
         {"bbox":[1,2,3,4],"category":"NotACategory","text":"bad cat"},
         {"bbox":[1,2,3,4],"category":"Text"},
         {"bbox":[1,2,3,4],"category":"Picture"},
         {"bbox":[1,2,3,4],"category":"Text","text":"ok"}]""")
    assert(out.failureCode == FailureCodes.SchemaViolation)
    assert(out.elements.map(_.category) == Vector("Picture", "Text"))
  }

  test("float bboxes accepted (test_accuracy.py:93)") {
    val out = LayoutJson.parse("""[{"bbox":[1.5,2.25,3.0,4.75],"category":"Text","text":"f"}]""")
    assert(out.elements.head.x1 == 1.5 && out.elements.head.y2 == 4.75)
  }

  // ---- ReadingOrder ----
  test("two-column page reads left column then right column") {
    val l1 = Element(50, 100, 300, 130, "Text", "L1")
    val l2 = Element(50, 140, 300, 170, "Text", "L2")
    val r1 = Element(400, 100, 700, 130, "Text", "R1")
    val r2 = Element(400, 140, 700, 170, "Text", "R2")
    val title = Element(50, 20, 700, 60, "Title", "T")
    val out = ReadingOrder.order(Seq(r2, l1, title, r1, l2))
    assert(out.map(_.text) == Seq("T", "L1", "L2", "R1", "R2"))
  }

  test("same text line sorts left to right") {
    val a = Element(261, 135, 764, 178, "List-item", "a")
    val b = Element(764, 150, 1280, 207, "Picture", "")
    assert(ReadingOrder.order(Seq(b, a)).map(_.x1) == Seq(261.0, 764.0))
  }

  test("ordering is input-permutation invariant") {
    val els = Seq(
      Element(50, 20, 700, 60, "Title", "T"),
      Element(50, 100, 300, 130, "Text", "A"),
      Element(320, 105, 600, 128, "Text", "B"),
      Element(50, 200, 700, 230, "Text", "C"),
      Element(50, 300, 340, 500, "Picture", ""),
      Element(360, 310, 700, 490, "Picture", ""))
    val base = ReadingOrder.order(els).map(_.text)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 20)
      assert(ReadingOrder.order(rnd.shuffle(els)).map(_.text) == base)
  }

  // ---- Router ----
  test("smart routing decision table (run_batch_benchmark.py:105-137)") {
    assert(Router.optimalPromptMode("TABLE", "PHOTO") == Router.LayoutAll)
    assert(Router.optimalPromptMode("PHOTO_TABLE", "PHOTO") == Router.LayoutAll)
    assert(Router.optimalPromptMode("TABLE", "SCANNED") == Router.LayoutOnly)
    assert(Router.optimalPromptMode("SCANNED_TABLE", "SCANNED") == Router.LayoutOnly)
    assert(Router.optimalPromptMode("FORM", "PHOTO") == Router.GroundingOcr)
    assert(Router.optimalPromptMode("SCANNED_FORM", "") == Router.GroundingOcr)
    assert(Router.optimalPromptMode("PHOTO_RECEIPT", "PHOTO") == Router.LayoutAll)
    assert(Router.optimalPromptMode("PHOTO_NUTRITION", "") == Router.Ocr)
    assert(Router.optimalPromptMode("SLIDES", "") == Router.Ocr)
  }

  test("prompt dict passthrough fallback (modal_gpu.py:302)") {
    assert(Router.resolvePrompt("custom prompt text") == "custom prompt text")
    assert(Router.resolvePrompt(Router.Ocr) != Router.Ocr)
  }

  test("grounding mode without bbox -> BBOX_REQUIRED failure row (modal_deploy.py:459-477)") {
    val doc = Doc("d", Seq(Span(Kinds.TextKind, "# T", "", 0)))
    val res = Extract.extractDoc(doc, Extract.Options(mode = Router.GroundingOcr))
    assert(!res.success && res.failure_code == FailureCodes.BboxRequired)
    val ok = Extract.extractDoc(doc,
      Extract.Options(Router.GroundingOcr, Some(Seq(0.0, 0.0, 2000.0, 2000.0))))
    assert(ok.success)
  }

  // ---- Extract mode semantics ----
  private val mdDoc = Doc("m", Seq(Span(Kinds.TextKind,
    "# Title\n\npara one\n\n- item a\n- item b", "", 0),
    Span(Kinds.MediaKind, "", "synth://img/100,900,500,1200", 1)))

  test("layout_only strips text, keeps structure") {
    val res = Extract.extractDoc(mdDoc, Extract.Options(mode = Router.LayoutOnly))
    assert(res.spans.forall(_.text == ""))
    assert(res.spans.map(_.kind) == Seq("Title", "Text", "List-item", "List-item", "Picture"))
  }

  test("ocr mode drops pictures, keeps text stream") {
    val res = Extract.extractDoc(mdDoc, Extract.Options(mode = Router.Ocr))
    assert(res.spans.map(_.kind) == Seq("Title", "Text", "List-item", "List-item"))
    assert(res.spans.forall(_.text.nonEmpty))
  }

  test("empty doc -> EMPTY_DOC failure row") {
    val res = Extract.extractDoc(Doc("e", Seq.empty))
    assert(!res.success && res.failure_code == FailureCodes.EmptyDoc)
  }

  // ---- Markdown path ----
  test("markdown page maps headings/lists/tables/images") {
    val md = "# Big Title\n## Sect\npara text here\n- li1\n1. li2\n" +
      "| A | B | C |\n|---|---|---|\n| 1 | 2 | 3 |\n![x](synth://img/1,2,3,4)\n$$x^2$$"
    val els = Markdown.extract(md)
    assert(els.map(_.category) == Vector("Title", "Section-header", "Text",
      "List-item", "List-item", "Table", "Picture", "Formula"))
    assert(els(5).text.startsWith("<table><thead>"))
    assert(els(6).mediaRef == "synth://img/1,2,3,4")
  }

  // ---- Boilerplate path ----
  test("html page: nav/footer-links/ads stripped, main content kept") {
    val html =
      """<html><body>
        |<nav><a href="/">Home</a><a href="/x">X</a></nav>
        |<div class="sidebar ads"><a>Buy now</a>click click</div>
        |<article><h1>Real Title</h1><p>This is the main paragraph of the page,
        |with enough text to be clearly content and not chrome at all.</p>
        |<ul><li>point one</li><li>point two</li></ul>
        |<table><tr><th>H</th><th>V</th></tr><tr><td>a</td><td>1</td></tr></table>
        |</article>
        |<footer>2</footer>
        |</body></html>""".stripMargin
    val els = Boilerplate.extract(html)
    val cats = els.map(_.category)
    assert(cats == Vector("Title", "Text", "List-item", "List-item", "Table", "Page-footer"))
    assert(!els.exists(_.text.contains("Buy now")))
    assert(!els.exists(_.text.contains("Home")))
    assert(els(4).text == "<table><thead><tr><th>H</th><th>V</th></tr></thead>" +
      "<tbody><tr><td>a</td><td>1</td></tr></tbody></table>")
  }

  test("link-dense short block is boilerplate; long text block is not") {
    val linky = Boilerplate.parseHtml(
      """<div><a href="a">one</a> <a href="b">two</a> <a href="c">three</a></div>""")
      .children.head.asInstanceOf[Boilerplate.Tag]
    assert(Boilerplate.isBoilerplate(linky, new java.util.IdentityHashMap()))
    val texty = Boilerplate.parseHtml(
      "<div>" + ("real content sentence. " * 20) + "<a href='x'>ref</a></div>")
      .children.head.asInstanceOf[Boilerplate.Tag]
    assert(!Boilerplate.isBoilerplate(texty, new java.util.IdentityHashMap()))
  }

  // ---- synthetic two-column pages order columns correctly ----
  test("synth two-column layout pages read left column before right") {
    // find a few two-column synth pages and check column order survives
    val r = new graft.corpus.Synth.Rng(123)
    var checked = 0
    var guard = 0
    while (checked < 5 && guard < 500) {
      guard += 1
      val page = graft.corpus.Synth.layoutJsonPage(r)
      val out = LayoutJson.parse(page)
      // two-column pages: >=5 elements, first is full-width Title, columns at x=80/700
      val looksTwoCol = out.elements.count(_.x1 == 700.0) >= 2 &&
        out.elements.count(_.x1 == 80.0) >= 2 && out.failureCode == graft.model.FailureCodes.Ok
      if (looksTwoCol) {
        val ordered = ReadingOrder.order(out.elements)
        val colMarks = ordered.filter(e => e.x1 == 80.0 || e.x1 == 700.0)
          .map(e => if (e.x1 == 80.0) 'L' else 'R').mkString
        assert("^L+R+$".r.findFirstIn(colMarks).isDefined,
          s"columns interleaved: $colMarks for page:\n$page")
        checked += 1
      }
    }
    assert(checked >= 5, s"only $checked two-column pages found")
  }

  // ---- classify ----
  test("page source sniffing") {
    assert(Extract.classify("""[{"bbox":[1,2,3,4],"category":"Text","text":"x"}]""") == "layout-json")
    assert(Extract.classify("<div><p>hello</p></div>") == "html")
    assert(Extract.classify("# heading\nplain text") == "markdown")
    assert(Extract.classify("see [1] for details") == "markdown")
  }

  test("nested array member is skipped wholesale, later elements survive") {
    val out = LayoutJson.parse(
      """[[1,2], {"bbox": [80,100,500,160], "category": "Text", "text": "hi"}]""")
    assert(out.elements.map(_.text) == Vector("hi"),
      "the element after the nested array must not be dropped")
    assert(out.failureCode == FailureCodes.SchemaViolation)
  }

  test("generation truncated before the first category key still reports TRUNCATED") {
    val doc = Doc("t", Seq(Span(Kinds.TextKind, """[{"bbox": [80, 100, 1100, 160], "cat""", "", 0)))
    val r = Extract.extractDoc(doc)
    assert(r.failure_code == FailureCodes.Truncated,
      s"must route to the tolerant layout parser, got ${r.failure_code}: ${r.spans}")
  }

  test("malformed media refs are data, never exceptions") {
    // multi-dot coordinate admitted by the [\d.]+ class
    val multiDot = Doc("m1", Seq(Span(Kinds.MediaKind, "", "synth://img/80,100,480.5.2,400", 0)))
    val r1 = Extract.extractDoc(multiDot)
    assert(r1.success && r1.spans.exists(_.kind == "Picture"), "default box, no throw")
    // malformed percent-encoding in the chart payload
    val badPct = Doc("m2", Seq(Span(Kinds.MediaKind, "", "synth://img/0,0,200,200?md=%zz", 0)))
    val r2 = Extract.extractDoc(badPct)
    assert(r2.success && !r2.spans.exists(_.kind == "Table"),
      "undecodable payload = no structured chart, no exception")
    assert(Charts.chartPayload("x?md=%zz").isEmpty)
  }
}
