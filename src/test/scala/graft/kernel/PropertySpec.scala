package graft.kernel

import graft.model.{Doc, Element, Kinds, Span}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based kernel guarantees (SURVEY.md §5): total determinism,
  * permutation invariance, and no-throw tolerance on mangled inputs.
  * ScalaCheck generators sampled over fixed seeds (no scalatestplus bridge
  * in the offline cache, so sampling is explicit — and reproducible). */
class PropertySpec extends AnyFunSuite {

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val genElement: Gen[Element] = for {
    x1 <- Gen.choose(0, 1200)
    y1 <- Gen.choose(0, 1600)
    w <- Gen.choose(10, 800)
    h <- Gen.choose(10, 400)
    cat <- Gen.oneOf(graft.model.Categories.All)
    text <- Gen.alphaStr.map(_.take(20))
  } yield Element(x1, y1, x1 + w, y1 + h, cat,
    if (cat == "Picture") "" else text)

  private def key(e: Element) = (e.x1, e.y1, e.x2, e.y2, e.category, e.text)

  test("reading order is a permutation-invariant total order") {
    for ((els, i) <- samples(Gen.listOfN(12, genElement), 60).zipWithIndex) {
      val base = ReadingOrder.order(els)
      val shuffled = new scala.util.Random(i).shuffle(els)
      assert(ReadingOrder.order(shuffled) == base, s"case $i not invariant")
      assert(base.sortBy(key) == els.sortBy(key), s"case $i not a permutation")
    }
  }

  test("layout-JSON parse never throws and keeps a valid prefix under truncation") {
    for (pageSeed <- 0 until 40; fracStep <- 1 to 10) {
      val rr = new graft.corpus.Synth.Rng(pageSeed.toLong)
      val page = graft.corpus.Synth.layoutJsonPage(rr)
      val cut = page.substring(0, page.length * fracStep / 10)
      val out = LayoutJson.parse(cut) // must not throw
      val full = LayoutJson.parse(page)
      assert(out.elements == full.elements.take(out.elements.size),
        s"seed=$pageSeed frac=$fracStep: truncated parse is not a prefix")
    }
  }

  test("extractDoc never throws on arbitrary span soup") {
    val genSpan: Gen[Span] = for {
      kind <- Gen.oneOf(Kinds.TextKind, Kinds.MediaKind, "weird")
      t <- Gen.oneOf(Gen.alphaStr,
        Gen.const("[{\"bbox\":"), Gen.const("<div><p>x"),
        Gen.const("| a | b | c |"), Gen.const(""))
      ref <- Gen.oneOf("", "synth://img/1,2,3,4", "garbage//x")
      off <- Gen.choose(0, 50)
    } yield Span(kind, t, ref, off)
    for (spans <- samples(Gen.listOfN(8, genSpan), 80)) {
      val res = Extract.extractDoc(Doc("p", spans))
      assert(res.spans.map(_.offset) == res.spans.indices)
      // the kernel's catch-all must not be what keeps this input from throwing
      assert(res.failure_code != graft.model.FailureCodes.KernelError, s"kernel threw on $spans")
    }
  }

  test("kernel is deterministic: same doc -> identical result") {
    for (id <- 0L until 300L) {
      val d = graft.corpus.Synth.docFor(42, id)
      val a = Extract.extractDoc(d)
      val b = Extract.extractDoc(d)
      assert(a.spans == b.spans && a.failure_code == b.failure_code)
    }
  }
}
