package graft.kernel

/** Prompt-mode dispatch and smart routing.
  *
  * Reference semantics:
  *  - PROMPT_DICT with 4 closed modes and passthrough fallback
  *    (modal_gpu.py:57-78, :302, :352); unknown modes rejected by the legacy
  *    endpoint (modal_deploy.py:452-457).
  *  - grounding mode requires a 4-number bbox and appends it to the prompt
  *    (modal_deploy.py:459-477, :666-669).
  *  - smart routing decision table get_optimal_prompt_mode(format, quality)
  *    (run_batch_benchmark.py:105-137).
  */
object Router {

  val LayoutAll = "prompt_layout_all_en"
  val LayoutOnly = "prompt_layout_only_en"
  val Ocr = "prompt_ocr"
  val GroundingOcr = "prompt_grounding_ocr"

  /** Closed mode→prompt dictionary (texts paraphrase the public prompt
    * contract: layout+text JSON array, layout-only, text-only, grounded). */
  val PromptDict: Map[String, String] = Map(
    LayoutAll -> ("Extract the layout elements of this page as a JSON array of " +
      "{bbox, category, text}, categories from the 11-value set, Picture text " +
      "omitted, Table as HTML, Formula as LaTeX, sorted in human reading order."),
    LayoutOnly -> ("Extract only the layout structure (bbox + category) of this " +
      "page as a JSON array, sorted in human reading order."),
    Ocr -> "Extract the text content of this page without any layout markers.",
    GroundingOcr -> ("Extract the text content inside the given bounding box."))

  /** P1: dict lookup with passthrough fallback (modal_gpu.py:302). */
  def resolvePrompt(mode: String): String = PromptDict.getOrElse(mode, mode)

  /** P2: grounding bbox requirement. */
  def groundingOk(mode: String, bbox: Option[Seq[Double]]): Boolean =
    mode != GroundingOcr || bbox.exists(_.length == 4)

  /** P5: smart prompt routing (run_batch_benchmark.py:105-137). */
  def optimalPromptMode(format: String, documentQuality: String): String = {
    val f = Option(format).getOrElse("")
    val q = Option(documentQuality).getOrElse("")
    if (Set("TABLE", "PHOTO_TABLE", "WEB_TABLE", "SCANNED_TABLE").contains(f)) {
      if (q == "PHOTO") LayoutAll else LayoutOnly
    } else if (f == "FORM" || f == "SCANNED_FORM") GroundingOcr
    else if (f == "PHOTO_RECEIPT") LayoutAll
    else Ocr // PHOTO_NUTRITION and default fallback
  }

  /** P4: document-format allow-list (run_batch_benchmark.py:476-502). */
  val AllowedFormats: Set[String] = Set(
    "TABLE", "FORM", "SLIDES", "PHOTO_NUTRITION", "SCANNED_TABLE",
    "WEB_TABLE", "PHOTO_TABLE", "SCANNED_FORM", "PHOTO_RECEIPT")
}
