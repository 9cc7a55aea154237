package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Locale

import graft.operators.{LineDedupe, SessionCaches}

/** The shared harness of the mains: JSON leaf encoders, the subset-filter and
  * positive-integer parses, the min-of timing's failure poisoning and
  * cache release, and the artifact writer's failure tolerance.
  */
class HarnessSpec extends SparkSpec {

  test("str escapes quote, backslash and every control character") {
    assert(Harness.str("a\"b\\c\nd\re\tf\u0001g") ===
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
    assert(Harness.str("plain") === "\"plain\"")
  }

  test("num writes '.' decimals whatever the default locale") {
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      assert("%.2f".format(1.5) === "1,50", "the locale must actually bite")
      assert(Harness.num(1.5, 2) === "1.50")
      assert(Harness.num(-1.0, 3) === "-1.000")
      assert(Harness.num(0.12345, 4) === "0.1235")
    } finally Locale.setDefault(saved)
  }

  test("num writes a non-finite value as the -1 failure marker") {
    assert(Harness.num(Double.NaN, 2) === "-1")
    assert(Harness.num(Double.PositiveInfinity, 2) === "-1")
    assert(Harness.num(Double.NegativeInfinity, 1) === "-1")
  }

  test("minOf: a failed attempt poisons the figure; caches are released") {
    import spark.implicits._
    val docs = Seq((1L, "shared line here\nunique a"), (2L, "shared line here\nunique b"))
      .toDF("doc_id", "text")
    var calls = 0
    val t = Harness.minOf(3) {
      calls += 1
      // a tracked (cached) operator result, like a timed catalog query's
      assert(LineDedupe.duplicateLines(docs, "doc_id", "text").count() === 1L)
      if (calls == 2) throw new IllegalStateException("attempt 2 fails")
    }
    assert(t === Harness.Failed)
    assert(calls === 2, "a poisoned figure must stop the attempts")
    assert(SessionCaches.scopedCount === 0)
    val ok = Harness.minOf(2)(())
    assert(ok >= 0)
  }

  test("only: an empty list or any unknown name is an error") {
    val known = Set("a", "b", "c")
    assert(Harness.only("X_ONLY", ",", known).isLeft)
    assert(Harness.only("X_ONLY", "", known).isLeft)
    assert(Harness.only("X_ONLY", "zz", known).isLeft)
    val mixed = Harness.only("X_ONLY", "a,zz", known)
    assert(mixed.isLeft)
    assert(mixed.left.exists(m => m.contains("zz") && m.contains("X_ONLY")))
    assert(Harness.only("X_ONLY", " a , c ", known) === Right(Set("a", "c")))
  }

  test("the cpus parse rejects non-positive and non-integer settings") {
    def parse(s: Option[String]) = Harness.positiveInt("SPARK_GRAFT_CPUS", s, 7)
    assert(parse(Some("0")).isLeft)
    assert(parse(Some("-2")).isLeft)
    assert(parse(Some("abc")).isLeft)
    assert(parse(Some(" 12 ")) === Right(12))
    assert(parse(None) === Right(7))
  }

  test("writeArtifact creates parent directories and never throws") {
    val root = Files.createTempDirectory("harness-artifact")
    val out = root.resolve("a/b/c.json")
    Harness.writeArtifact(out.toString, """{"k":1}""")
    assert(new String(Files.readAllBytes(out), StandardCharsets.UTF_8) === "{\"k\":1}\n")
    // a NUL makes Paths.get throw InvalidPathException: logged, not thrown
    Harness.writeArtifact(s"$root/bad\u0000name.json", "{}")
  }
}
