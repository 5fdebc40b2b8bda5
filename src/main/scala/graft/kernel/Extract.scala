package graft.kernel

import graft.model._

import scala.util.control.NonFatal

/** The per-document extraction kernel: pure Scala, zero Spark dependencies,
  * so the same code is unit-tested directly and executed inside
  * `mapPartitions` (SURVEY.md §7 M1/M2).
  *
  * Pipeline per document (mirrors the reference's page flow,
  * modal_gpu.py:182-262 + tests/test_single_page.py):
  *   1. group input spans into pages (each text span = one page source;
  *      trailing media spans attach to the page of the preceding text span);
  *   2. sniff the page source format — model-style layout JSON (parsed
  *      tolerantly, LayoutJson), HTML-ish markup (boilerplate-stripped,
  *      Boilerplate), or markdown/plain text (Markdown);
  *   3. media spans become Picture elements with geometry parsed from
  *      media_ref (`synth://img/x1,y1,x2,y2[?md=...]`);
  *   4. reading order per page (ReadingOrder: XY-cut + baseline clustering);
  *   5. chart structuring (Charts: predicate + deterministic table insert);
  *   6. serialize to output spans with global reading-order offsets; Picture
  *      spans carry media_ref and empty text (modal_gpu.py:65), JSON-born
  *      pictures get a deterministic `bbox://` ref.
  * Failures are data (`failure_code`), never exceptions; truncated pages keep
  * their complete prefix (warn-not-fail, tests/test_accuracy.py:190-199).
  * Input the kernel cannot read at all (a null span element or text, which
  * parquet allows) becomes a fatal KERNEL_ERROR row for its doc_id, so one
  * such document cannot fail the whole job.
  */
object Extract {

  final case class Options(
      mode: String = Router.LayoutAll,
      groundingBbox: Option[Seq[Double]] = None)

  private val synthImgRe = """^synth://img/(-?[\d.]+),(-?[\d.]+),(-?[\d.]+),(-?[\d.]+)(\?.*)?$""".r

  /** One page = optional text source + attached media spans. */
  private final case class Page(source: Option[Span], media: Seq[Span])

  def extractDoc(doc: Doc, opts: Options = Options()): DocResult = {
    val t0 = System.nanoTime()
    try extractChecked(doc, opts, t0)
    catch {
      case NonFatal(_) => DocResult(doc.doc_id, Seq.empty, success = false,
        FailureCodes.KernelError, 0, 0, -1, System.nanoTime() - t0)
    }
  }

  private def extractChecked(doc: Doc, opts: Options, t0: Long): DocResult = {
    if (!Router.groundingOk(opts.mode, opts.groundingBbox)) {
      return DocResult(doc.doc_id, Seq.empty, success = false,
        FailureCodes.BboxRequired, 0, 0, -1, System.nanoTime() - t0)
    }
    if (doc.spans == null || doc.spans.isEmpty) {
      return DocResult(doc.doc_id, Seq.empty, success = false,
        FailureCodes.EmptyDoc, 0, 0, -1, System.nanoTime() - t0)
    }
    val pages = paginate(doc.spans.sortBy(_.offset))
    var failure = FailureCodes.Ok
    val allElements = Vector.newBuilder[Element]
    pages.foreach { page =>
      val (els, code) = extractPage(page)
      failure = FailureCodes.worse(failure, code)
      allElements ++= els
    }
    val shaped = applyMode(allElements.result(), opts)
    val spans = shaped.zipWithIndex.map { case (e, i) =>
      val ref =
        if (e.category == "Picture") (if (e.mediaRef.nonEmpty) e.mediaRef else e.bboxRef)
        else ""
      Span(e.category, e.text, ref, i)
    }
    DocResult(doc.doc_id, spans, success = !FailureCodes.isFatal(failure),
      failure, spans.size, pages.size, -1, System.nanoTime() - t0)
  }

  private def paginate(spans: Seq[Span]): Vector[Page] = {
    val pages = Vector.newBuilder[Page]
    var current: Option[Span] = None
    var media = Vector.newBuilder[Span]
    var open = false
    def flush(): Unit = if (open) {
      pages += Page(current, media.result()); media = Vector.newBuilder[Span]
      current = None; open = false
    }
    spans.foreach { s =>
      if (s.kind == Kinds.MediaKind) { media += s; open = true }
      else { flush(); current = Some(s); open = true }
    }
    flush()
    pages.result()
  }

  private val tagRe = java.util.regex.Pattern.compile("<[a-zA-Z][^>]*>")

  /** Sniff page-source format. Layout JSON pages contain a recoverable array
    * of {bbox, category} objects; HTML pages contain real tags; everything
    * else is markdown/plain text. */
  def classify(text: String): String = {
    val t = LayoutJson.stripFences(text)
    val arr = t.indexOf('[')
    // bbox OR category: a generation truncated before the first category
    // key must still route to the tolerant layout parser (which reports
    // TRUNCATED) rather than fall through to markdown as plain text
    if (arr >= 0 && (t.indexOf("\"bbox\"", arr) > arr || t.indexOf("\"category\"", arr) > arr))
      "layout-json"
    else if (tagRe.matcher(t).find()) "html"
    else "markdown"
  }

  private def extractPage(page: Page): (Vector[Element], String) = {
    var code = FailureCodes.Ok
    val els = Vector.newBuilder[Element]
    page.source.foreach { s =>
      classify(s.text) match {
        case "layout-json" =>
          val out = LayoutJson.parse(s.text)
          code = FailureCodes.worse(code, out.failureCode)
          els ++= out.elements
        case "html" =>
          els ++= Boilerplate.extract(s.text)
        case _ =>
          els ++= Markdown.extract(s.text)
      }
    }
    page.media.foreach { m =>
      els += mediaElement(m)
    }
    val ordered = ReadingOrder.order(els.result())
    (Charts.process(ordered).toVector, code)
  }

  private def mediaElement(m: Span): Element = {
    // the regex class [\d.]+ admits multi-dot strings like "480.5.2" —
    // toDouble on those throws; unknown geometry is data, never an
    // exception (reachable with user-supplied refs via the SQL API)
    def num(v: String): Option[Double] =
      try Some(v.toDouble) catch { case _: NumberFormatException => None }
    def defaultBox: Element = {
      // unknown geometry: deterministic default box keyed by offset so
      // ordering stays total
      val y = 80.0 + 40.0 * m.offset
      Element(80, y, 480, y + 300, "Picture", "", m.media_ref)
    }
    m.media_ref match {
      case synthImgRe(x1, y1, x2, y2, _) =>
        (num(x1), num(y1), num(x2), num(y2)) match {
          case (Some(a), Some(b), Some(c), Some(d)) =>
            Element(a, b, c, d, "Picture", "", m.media_ref)
          case _ => defaultBox
        }
      case _ => defaultBox
    }
  }

  /** Prompt-mode semantics on the ordered element stream (clean-room
    * interpretation of the 4 reference modes, modal_gpu.py:57-78):
    * layout_all = full spans; layout_only = structure without text;
    * ocr = text-only stream (pictures dropped, layout collapsed);
    * grounding_ocr = text of elements intersecting the query bbox. */
  private def applyMode(ordered: Vector[Element], opts: Options): Vector[Element] =
    opts.mode match {
      case Router.LayoutOnly => ordered.map(e => e.copy(text = ""))
      case Router.Ocr =>
        ordered.filter(e => e.category != "Picture" && e.text.nonEmpty)
      case Router.GroundingOcr =>
        val Seq(gx1, gy1, gx2, gy2) = opts.groundingBbox.get
        ordered.filter(e =>
          e.x1 < gx2 && e.x2 > gx1 && e.y1 < gy2 && e.y2 > gy1 &&
            e.category != "Picture" && e.text.nonEmpty)
      case _ => ordered // LayoutAll and passthrough modes
    }
}
