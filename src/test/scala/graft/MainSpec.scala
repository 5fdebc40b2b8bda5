package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Main`'s command line is checked before any session is built: a flag the
  * subcommand does not know, or a missing required one, fails at once. */
class MainSpec extends AnyFunSuite {

  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](Main.parse(args.toArray)).getMessage

  test("known flags parse; required flags are read with req") {
    val a = Main.parse(Array("stream", "--in", "i", "--out", "o", "--checkpoint", "c"))
    assert(a.cmd == "stream")
    assert(Seq("in", "out", "checkpoint").map(a.req) == Seq("i", "o", "c"))
    assert(a.opt("mode").isEmpty)
    val r = Main.parse(Array("resumable", "--in", "i", "--out", "o", "--buckets", "16"))
    assert(r.opt("buckets").contains("16") && r.req("in") == "i")
  }

  test("an unknown flag fails loudly, including the removed --split-oversized") {
    val msg = rejected("extract", "--in", "i", "--out", "o", "--split-oversized")
    assert(msg.contains("unknown flag '--split-oversized'"), msg)
    assert(rejected("resumable", "--in", "i", "--out", "o", "--salt", "3")
      .contains("unknown flag '--salt'"))
    // a flag another subcommand knows is still unknown here
    assert(rejected("synth", "--out", "o", "--checkpoint", "c").contains("unknown flag"))
    assert(rejected("extract", "--in", "i", "--out", "o", "stray").contains("unknown flag"))
  }

  test("missing required flags, values or numbers fail before a session exists") {
    assert(rejected("stream", "--in", "i", "--out", "o")
      .contains("missing required flag --checkpoint"))
    assert(rejected("resumable", "--out", "o").contains("missing required flag --in"))
    assert(rejected("resumable", "--in", "i").contains("missing required flag --out"))
    assert(rejected("extract", "--in", "--out", "o").contains("--in needs a value"))
    assert(rejected("extract", "--in", "i", "--out", "o", "--partitions", "x")
      .contains("needs a number"))
    for ((flag, v) <- Seq("buckets" -> "0", "buckets" -> "-3", "per-commit" -> "0"))
      assert(rejected("resumable", "--in", "i", "--out", "o", s"--$flag", v)
        .contains(s"--$flag needs a number >= 1"))
    assert(rejected("extract", "--in", "i", "--out", "o", "--partitions", "0")
      .contains("--partitions needs a number >= 1"))
    assert(rejected("transcode").contains("unknown subcommand"))
    assert(rejected().contains("subcommand required"))
  }
}
