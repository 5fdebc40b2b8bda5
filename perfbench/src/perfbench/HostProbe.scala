package perfbench

/** A fixed piece of work that depends on nothing in the program, run on
  * `threads` threads at once: sorting pseudo-random longs, chasing pointers
  * through an array larger than the caches, and parsing and splitting JSON
  * text. Its wall time tracks how fast the host runs this process at the
  * moment (other tenants of a shared host slow whole runs by a third), so
  * pass walls can be read against it. */
object HostProbe {
  private val chaseLen = 1 << 24 // 64 MB of ints
  private val sortLen = 1 << 16
  private val sortReps = 12
  private val chaseSteps = 1 << 18
  private val textReps = 90

  /** One cycle through all slots, in a fixed pseudo-random order; made by
    * the first probe and dropped by `release`. */
  private var chase: Array[Int] = null

  private def makeChase(): Array[Int] = {
    val order = Array.tabulate(chaseLen)(identity)
    val rnd = new java.util.SplittableRandom(42)
    var i = chaseLen - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    val next = new Array[Int](chaseLen)
    i = 0
    while (i < chaseLen) { next(order(i)) = order((i + 1) % chaseLen); i += 1 }
    next
  }

  private def compute(salt: Int): Long = {
    val a = new Array[Long](sortLen)
    var x = 0x9E3779B97F4A7C15L * (salt + 1)
    var acc = 0L
    var r = 0
    while (r < sortReps) {
      var i = 0
      while (i < sortLen) { x = x * 6364136223846793005L + 1442695040888963407L; a(i) = x; i += 1 }
      java.util.Arrays.sort(a)
      acc ^= a(sortLen / 2)
      r += 1
    }
    acc
  }

  private def memory(salt: Int): Long = {
    val c = chase
    var p = (salt * 7919) % chaseLen
    var i = 0
    while (i < chaseSteps) { p = c(p); i += 1 }
    p.toLong
  }

  /** Text work like a parser's: build a JSON document, parse it into a tree,
    * split its strings into words and count them. */
  private def text(salt: Int): Long = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val words = Array("table", "figure", "page", "span", "offset", "caption", "header", "row",
      "column", "chart", "reading", "order", "layout", "markdown", "html", "block")
    var acc = 0L
    var r = 0
    while (r < textReps) {
      val sb = new java.lang.StringBuilder("[")
      var i = 0
      while (i < 200) {
        if (i > 0) sb.append(',')
        sb.append("{\"id\":").append(i).append(",\"text\":\"")
        var k = 0
        while (k < 12) { sb.append(words((i * 7 + k * 3 + r + salt) % words.length)).append(' '); k += 1 }
        sb.append("\"}")
        i += 1
      }
      sb.append(']')
      val counts = new java.util.HashMap[String, Integer]()
      mapper.readTree(sb.toString).forEach { n =>
        n.get("text").asText().split("\\s+").foreach(w => counts.merge(w, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b)))
      }
      acc += counts.size()
      r += 1
    }
    acc
  }

  @volatile private var sink = 0L

  private def parallel(threads: Int, f: Int => Long): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(k => new Thread(() => { sink ^= f(k) }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Wall seconds of one probe: the three parts in turn, each on `threads`
    * threads. */
  def once(threads: Int): Double = {
    if (chase == null) chase = makeChase()
    parallel(threads, compute) + parallel(threads, memory) + parallel(threads, text)
  }

  /** Frees the pointer array, so it is not counted in the retained heap. */
  def release(): Unit = chase = null
}
