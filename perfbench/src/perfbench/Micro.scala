package perfbench

import graft.kernel.Extract
import graft.model.{Doc, Kinds, Span}
import graft.pipeline.SpanCodec

/** Direct single-threaded calls into one layer on a sample of the workload's
  * own documents. Each measurement warms up once, then repeats the sample
  * until it has run for at least `minSeconds`. */
object Micro {

  private def timed(minSeconds: Double)(round: () => Unit): (Double, Int) = {
    round()
    var rounds = 0
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < minSeconds || rounds < 3) {
      round(); rounds += 1
      el = (System.nanoTime() - t0) / 1e9
    }
    (el, rounds)
  }

  /** pack / unpack nanoseconds per span and packed bytes per span. */
  def codec(docs: Seq[Doc], minSeconds: Double): Map[String, Double] = {
    val spanArrays = docs.map(_.spans).toArray
    val nSpans = spanArrays.map(_.size.toLong).sum.toDouble
    val blobs = spanArrays.map(SpanCodec.pack)
    val bytes = blobs.map(_.length.toLong).sum.toDouble
    var sink = 0L
    val (packS, packR) = timed(minSeconds)(() => spanArrays.foreach(s => sink += SpanCodec.pack(s).length))
    val (unpackS, unpackR) = timed(minSeconds)(() => blobs.foreach(b => sink += SpanCodec.unpack(b).size))
    require(sink > 0)
    Map(
      "pipeline.codec.pack_ns_per_span" -> packS * 1e9 / (packR * nSpans),
      "pipeline.codec.unpack_ns_per_span" -> unpackS * 1e9 / (unpackR * nSpans),
      "pipeline.codec.bytes_per_span" -> bytes / nSpans)
  }

  /** Single-page documents: each text span with the media spans that follow
    * it, the page unit of `Extract`. */
  def pages(docs: Seq[Doc]): Seq[Doc] = docs.flatMap { d =>
    val spans = d.spans.sortBy(_.offset)
    val out = Vector.newBuilder[Doc]
    var cur = Vector.empty[Span]
    var k = 0
    def flush(): Unit = if (cur.nonEmpty) {
      out += Doc(s"${d.doc_id}#$k", cur.zipWithIndex.map { case (s, i) => s.copy(offset = i) })
      cur = Vector.empty; k += 1
    }
    spans.foreach { s =>
      if (s.kind != Kinds.MediaKind) flush()
      cur :+= s
    }
    flush()
    out.result()
  }.filter(_.spans.head.kind != Kinds.MediaKind)

  /** Kernel microseconds per page for each page-source type. */
  def kernel(docs: Seq[Doc], minSeconds: Double): Map[String, Double] =
    pages(docs).groupBy(p => Extract.classify(p.spans.head.text)).map { case (kind, ps) =>
      var sink = 0L
      val (s, r) = timed(minSeconds)(() => ps.foreach(p => sink += Extract.extractDoc(p).n_spans))
      require(sink >= 0)
      s"kernel.us_per_page.$kind" -> s * 1e6 / (r * ps.size)
    }
}
