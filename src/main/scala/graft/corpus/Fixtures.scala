package graft.corpus

import com.fasterxml.jackson.databind.ObjectMapper
import graft.model.{Doc, DocResult, Kinds, Span}

import scala.jdk.CollectionConverters._

/** Golden fixtures transcribed from the public reference repo
  * (satish860/OCR-Deployment): the three pages of
  * results/multi_page_results.json (page 1 truncated at max_tokens — the
  * tolerant-parse fixture), the example_000 golden OCR output with leading
  * prose (benchmark/results/test_results_20250816_133103.json), and the
  * example_000 markdown ground truth. Expected span sequences were computed
  * by an independent Python transcriber (tools/transcribe_fixtures.py), so
  * span-sequence equality here is a genuine cross-implementation check.
  */
object Fixtures {

  private def resource(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/fixtures/$name")
    require(in != null, s"missing fixture resource $name")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def textDoc(id: String, pages: String*): Doc =
    Doc(id, pages.zipWithIndex.map { case (p, i) => Span(Kinds.TextKind, p, "", i) })

  /** Input docs, one per golden fixture (doc_id → Doc). */
  lazy val inputDocs: Seq[Doc] = {
    val p0 = resource("mp_page0.txt")
    val p1 = resource("mp_page1.txt")
    val p2 = resource("mp_page2.txt")
    Seq(
      textDoc("fixture_mp_page0", p0),
      textDoc("fixture_mp_page1", p1),
      textDoc("fixture_mp_page2", p2),
      textDoc("fixture_mp_all", p0, p1, p2),
      // large_batch_results.json pages 3-8 + the client_parallel re-run of
      // mp_page1 truncated at a different byte: seven further real model
      // outputs, each a distinct tolerant-parse failure shape (mid-string,
      // mid-table-HTML, mid-number, missing delimiter, repetition loop
      // swallowing the whole first element)
      textDoc("fixture_lb_page3", resource("lb_page3.txt")),
      textDoc("fixture_lb_page4", resource("lb_page4.txt")),
      textDoc("fixture_lb_page5", resource("lb_page5.txt")),
      textDoc("fixture_lb_page6", resource("lb_page6.txt")),
      textDoc("fixture_lb_page7", resource("lb_page7.txt")),
      textDoc("fixture_lb_page8", resource("lb_page8.txt")),
      textDoc("fixture_cp3_page0", resource("cp3_page0.txt")),
      textDoc("fixture_cp6_page0", resource("cp6_page0.txt")),
      textDoc("fixture_ex000_ocr", resource("ex000_ocr.txt")),
      textDoc("fixture_ex000_truth_md", resource("ex000_truth_md.txt")))
  }

  /** Expected extraction results keyed by doc_id. */
  lazy val expected: Map[String, DocResult] = {
    val root = new ObjectMapper().readTree(resource("expected.json"))
    root.properties().asScala.map { e =>
      val id = e.getKey
      val v = e.getValue
      val spans = v.get("spans").elements().asScala.map { s =>
        Span(s.get("kind").asText(), s.get("text").asText(),
          s.get("media_ref").asText(), s.get("offset").asInt())
      }.toVector
      id -> DocResult(id, spans, v.get("success").asBoolean(),
        v.get("failure_code").asText(), spans.size, 0, -1, 0L)
    }.toMap
  }

  /** Double-encoded ground truth for the scoring pipeline
    * (benchmark/data/example_000_*; unwrap-twice semantics
    * run_batch_benchmark.py:73-79). */
  lazy val ex000TruthJsonRaw: String = resource("ex000_truth.json")
}
