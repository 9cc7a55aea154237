package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Cli's argument parses, without a session: junk, zero and negative
  * numbers are usage errors (the caller exits 2), absent ones default.
  */
class CliArgsSpec extends AnyFunSuite {

  test("positional numbers: junk, 0 and negatives are refused, absent defaults") {
    def parse(rest: List[String]) = Cli.intArg("WINDOW_TOKENS", rest, 20)
    assert(parse(Nil) === Right(20))
    assert(parse(List(" 7 ")) === Right(7))
    for (bad <- Seq("x", "0", "-3", "1.5", "")) {
      val e = parse(List(bad))
      assert(e.left.exists(m => m.contains("WINDOW_TOKENS") && m.contains(s"'$bad'")),
        s"$bad: $e")
    }
  }

  test("--target-mb: default 128 MiB, one positive value, never two") {
    assert(Cli.targetBytes(Nil) === Right(128L * 1024 * 1024))
    assert(Cli.targetBytes(List("--target-mb=64")) === Right(64L * 1024 * 1024))
    for (bad <- Seq("--target-mb=abc", "--target-mb=0", "--target-mb=-1", "--target-mb="))
      assert(Cli.targetBytes(List(bad)).isLeft, bad)
    assert(Cli.targetBytes(List("--target-mb=1", "--target-mb=2")) ===
      Left("at most one --target-mb=N"))
  }

  test("param-impact: the two knobs parse, an unknown one is a usage error") {
    val Right((rgBase, rgGrid)) = Cli.paramGrid("--row-group-size")
    assert(rgBase.rowGroupBytes.contains(1L << 20) && rgGrid.size == 5)
    val Right((_, pageGrid)) = Cli.paramGrid("--data-page-size")
    assert(pageGrid.size == 6)
    assert(Cli.paramGrid("--page-size").left.exists(_.contains("unknown knob --page-size")))
  }
}
