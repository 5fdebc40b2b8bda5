package graft.model

/** Core data model for the extraction engine.
  *
  * Shapes follow BASELINE.json `input_hint` exactly:
  * input rows are `(doc_id string, spans array<struct<kind,text,media_ref,offset>>)`;
  * output rows add success/failure/metrics columns.
  *
  * Reference semantics (all citations into /root/reference):
  *  - layout element = {bbox:[x1,y1,x2,y2], category, text} — modal_gpu.py:58-74
  *  - category enum (11 values) — modal_gpu.py:62, tests/test_accuracy.py:75
  *  - Picture elements carry no text — modal_gpu.py:65
  *  - output array is reading-ordered; offset = index — modal_gpu.py:72
  */

/** One span of an interleaved document. Input kinds are "text" | "media";
  * output kinds are the 11-category layout enum. */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** One interleaved text+media document (input row). */
case class Doc(doc_id: String, spans: Seq[Span])

/** Extraction result row. `spans` is the reading-ordered layout sequence;
  * per-row invariant vs golden fixtures is equality of the ordered
  * (kind, text, media_ref, offset) sequence. */
case class DocResult(
    doc_id: String,
    spans: Seq[Span],
    success: Boolean,
    failure_code: String,
    n_spans: Int,
    n_pages: Int,
    partition_id: Int,
    kernel_nanos: Long)

/** Per-partition lineage/metrics row (north rule: per-partition lineage +
  * extraction metrics — pages/sec, span counts, failure codes). */
case class PartitionMetric(
    snapshot_id: Long,
    partition_id: Int,
    doc_id_min: String,
    doc_id_max: String,
    n_docs: Long,
    n_pages: Long,
    n_spans: Long,
    n_failures: Long,
    failure_codes: Map[String, Long],
    wall_ms: Long)

/** Internal layout element used by the kernel before span serialization.
  * bbox coords accept int or float (tests/test_accuracy.py:93). */
case class Element(
    x1: Double, y1: Double, x2: Double, y2: Double,
    category: String, text: String, mediaRef: String = "") {
  def width: Double = x2 - x1
  def height: Double = y2 - y1
  def bboxRef: String = {
    def f(d: Double) =
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
    s"bbox://${f(x1)},${f(y1)},${f(x2)},${f(y2)}"
  }
}

object Categories {
  /** Closed 11-value enum — reference modal_gpu.py:62. */
  val All: Seq[String] = Seq(
    "Caption", "Footnote", "Formula", "List-item", "Page-footer",
    "Page-header", "Picture", "Section-header", "Table", "Text", "Title")
  val Set: scala.collection.immutable.Set[String] = All.toSet
}

object Kinds {
  val TextKind = "text"
  val MediaKind = "media"
}

/** Failure codes carried as data, never exceptions (reference treats bad
  * documents as error rows: modal_gpu.py:366-390, client.py:217-222). */
object FailureCodes {
  val Ok = ""
  /** No JSON array found at all (tests/test_single_page.py:246-255 fallback). */
  val JsonRecoveryFailed = "JSON_RECOVERY_FAILED"
  /** Array truncated mid-generation at max_tokens; complete elements kept,
    * warn-not-fail (tests/test_accuracy.py:190-199; results/multi_page_results.json p1). */
  val Truncated = "TRUNCATED"
  /** Grounding mode without a 4-number bbox (modal_deploy.py:459-477). */
  val BboxRequired = "BBOX_REQUIRED"
  /** Elements failing structural validation were dropped (tests/test_accuracy.py:74-99). */
  val SchemaViolation = "SCHEMA_VIOLATION"
  val EmptyDoc = "EMPTY_DOC"
  /** The kernel threw on input it cannot read (a null span element or
    * text); the doc is a failure row instead of failing its task. */
  val KernelError = "KERNEL_ERROR"

  /** Severity order for reducing page-level codes to a doc-level code. */
  private val severity: Map[String, Int] = Map(
    Ok -> 0, SchemaViolation -> 1, Truncated -> 2,
    EmptyDoc -> 3, BboxRequired -> 4, JsonRecoveryFailed -> 5, KernelError -> 6)
  def worse(a: String, b: String): String =
    if (severity.getOrElse(b, 9) > severity.getOrElse(a, 9)) b else a
  /** Fatal codes flip `success` to false; TRUNCATED and SCHEMA_VIOLATION are
    * warn-level (reference keeps partial results: tests/test_accuracy.py:190-199).
    * Codes outside the known set are FATAL — `worse` already ranks them most
    * severe, and an unknown code displacing a fatal one must never flip the
    * doc back to success. */
  def isFatal(code: String): Boolean =
    code.nonEmpty && code != Truncated && code != SchemaViolation
}
