package graft.pipeline

import graft.model.Span

/** Compact binary encoding for a document's span array, used ACROSS the
  * hash exchange in [[ExtractionPipeline.extract]].
  *
  * Why: the shuffle ships every document's `array<struct<kind, text,
  * media_ref, offset>>`; Spark's UnsafeRow layout spends ~48 bytes of fixed
  * overhead per struct element (element offset slot + null bitset + four
  * 8-byte field slots + 8-byte alignment of every string) before any
  * payload. On the string-heavy extraction corpus that overhead is a large
  * fraction of the shuffle volume — and shuffle bytes ride the machine's
  * ONE shared DRAM bus while the pack/unpack CPU scales with cores, so
  * trading fixed bytes for per-core cycles directly buys multi-core
  * scaling (the 4→16 pair in BASELINE.md).
  *
  * Layout: varint span count, then per span a kind token (dictionary byte
  * for the input kinds "text"/"media", an inline marker byte plus the
  * string otherwise, a null marker byte alone for a null span element;
  * unpack rejects any other byte), the text
  * and media_ref as nullable strings (varint(len+1), 0 = null), and the
  * offset as a zigzag varint. Exact round-trip including null elements and
  * fields and supplementary-plane text (property-tested); `null` span
  * arrays encode as empty — [[graft.kernel.Extract.extractDoc]] already
  * maps both to the same EMPTY_DOC result. */
object SpanCodec {

  private val KindText = 0
  private val KindMedia = 1
  private val KindInline = 2
  private val KindNull = 3

  private final class Buf(var a: Array[Byte], var n: Int) {
    def ensure(k: Int): Unit =
      if (n + k > a.length) {
        val grown = new Array[Byte](math.max(a.length * 2, n + k))
        System.arraycopy(a, 0, grown, 0, n)
        a = grown
      }
    def byte(b: Int): Unit = { ensure(1); a(n) = b.toByte; n += 1 }
    def varint(v0: Long): Unit = {
      var v = v0
      ensure(10)
      while ((v & ~0x7fL) != 0) { a(n) = ((v & 0x7f) | 0x80).toByte; n += 1; v >>>= 7 }
      a(n) = v.toByte; n += 1
    }
    def bytes(b: Array[Byte]): Unit = { ensure(b.length); System.arraycopy(b, 0, a, n, b.length); n += b.length }
  }

  private def putNullable(b: Buf, s: String): Unit =
    if (s == null) b.varint(0L)
    else {
      val u = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      b.varint(u.length + 1L)
      b.bytes(u)
    }

  def pack(spans: Seq[Span]): Array[Byte] = {
    if (spans == null || spans.isEmpty) return Array.emptyByteArray
    val b = new Buf(new Array[Byte](64 * spans.size), 0)
    b.varint(spans.size.toLong)
    spans.foreach { s =>
      if (s == null) b.byte(KindNull)
      else {
        s.kind match {
          case "text"  => b.byte(KindText)
          case "media" => b.byte(KindMedia)
          case k       => b.byte(KindInline); putNullable(b, k)
        }
        putNullable(b, s.text)
        putNullable(b, s.media_ref)
        val off = s.offset.toLong
        b.varint((off << 1) ^ (off >> 63)) // zigzag: offsets can be any int
      }
    }
    java.util.Arrays.copyOf(b.a, b.n)
  }

  def unpack(bytes: Array[Byte]): Vector[Span] = {
    if (bytes == null || bytes.isEmpty) return Vector.empty
    var p = 0
    def fail(what: String): Nothing =
      throw new IllegalArgumentException(
        s"malformed span blob: $what at byte $p of ${bytes.length}")
    def nextByte(): Byte = {
      if (p >= bytes.length) fail("truncated varint")
      val b = bytes(p); p += 1; b
    }
    def varint(): Long = {
      var shift = 0; var v = 0L
      var b = nextByte()
      while ((b & 0x80) != 0) {
        // a valid encoder emits ≤ 10 bytes (last OR at shift 63); past
        // that the continuation run is corrupt and (b & 0x7f) << (shift %
        // 64) would silently yield wrong values instead of an error
        if (shift > 63) fail("varint continuation run exceeds 64 bits")
        v |= (b & 0x7fL) << shift; shift += 7
        b = nextByte()
      }
      // the terminal byte needs the same guard: shift can reach 70 with
      // exactly 10 continuation bytes, and 1L << 70 wraps to 1L << 6
      if (shift > 63) fail("varint continuation run exceeds 64 bits")
      v | ((b & 0x7fL) << shift)
    }
    def varintLen(what: String): Int = {
      // lengths/counts are ints by construction; a corrupt 2^32+k varint
      // must not truncate into a small "valid" value
      val n = varint()
      if (n < 0 || n > Int.MaxValue) fail(s"$what $n out of int range")
      n.toInt
    }
    def nullable(): String = {
      val n = varintLen("string length")
      if (n == 0) null
      else {
        if (p.toLong + (n - 1) > bytes.length) fail(s"string length ${n - 1} overruns blob")
        val s = new String(bytes, p, n - 1, java.nio.charset.StandardCharsets.UTF_8)
        p += n - 1
        s
      }
    }
    val count = varintLen("span count")
    val out = Vector.newBuilder[Span]
    out.sizeHint(count)
    var i = 0
    while (i < count) {
      val kind = nextByte() & 0xff
      if (kind == KindNull) out += null
      else {
        val k = kind match {
          case KindText   => "text"
          case KindMedia  => "media"
          case KindInline => nullable()
          case other      => fail(s"unknown span kind byte $other")
        }
        val text = nullable()
        val ref = nullable()
        val zz = varint()
        val off = ((zz >>> 1) ^ -(zz & 1)).toInt
        out += Span(k, text, ref, off)
      }
      i += 1
    }
    out.result()
  }
}
