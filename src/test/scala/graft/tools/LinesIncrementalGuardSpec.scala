package graft.tools

import graft.SparkSpec
import graft.operators.{LineDedupe, LineIndexMeta, SessionCaches}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style validation of the incremental line-dedup REFUSAL
  * paths: [[LineDedupe.cutLinesIncremental]] is exactly keep-earliest
  * ONLY under the append-only id contract (every base id < every batch
  * id) and the index's own build parameters — a violated precondition
  * must refuse loudly, never produce a silently wrong cut. The happy
  * paths are pinned in LineDedupeSpec/LinesPropertySpec on fixed
  * fixtures; this spec GENERATES violating configurations (overlapping
  * id ranges, mismatched eligibility floors, missing/foreign sidecars)
  * the way LinesPropertySpec batches corpora, and asserts each refuses
  * with its documented error.
  */
class LinesIncrementalGuardSpec extends SparkSpec {
  import spark.implicits._

  private val MinChars = 10

  /** A plausible corpus: ids in [lo, hi), every doc carrying one
    * eligible line drawn from a small pool (dense duplication) plus a
    * unique filler line.
    */
  private def corpus(lo: Long, hi: Long, tag: String) =
    spark.range(lo, hi).selectExpr("id AS doc_id",
      s"concat('shared boilerplate line ', id % 3, ' $tag', '\\n', " +
        s"'unique filler material number ', id) AS text")

  test("generated overlapping-id batches refuse loudly, never cut") {
    // 25 generated violations: base [0, baseN), batch starting AT or
    // BELOW baseN-1 (overlap depth 1..baseN) — every one must trip the
    // baseMaxDocId guard; the same batch re-id'd above the base range
    // must succeed (the violation, not the batch, is what refuses)
    val gen = for {
      baseN <- Gen.choose(2L, 12L)
      overlap <- Gen.choose(1L, baseN) // batch min = baseN - overlap
      batchN <- Gen.choose(1L, 8L)
    } yield (baseN, overlap, batchN)
    SessionCaches.scope {
      (0 until 25).foreach { i =>
        val (baseN, overlap, batchN) =
          gen.pureApply(Gen.Parameters.default, Seed(9100L + i))
        val base = corpus(0, baseN, s"g$i")
        val idx = LineDedupe.lineIndex(base, "text", MinChars)
        val lo = baseN - overlap
        val batch = corpus(lo, lo + batchN, s"g$i")
        val e = intercept[IllegalArgumentException] {
          LineDedupe.cutLinesIncremental(idx, batch, "doc_id", "text",
            MinChars, baseMaxDocId = Some(baseN - 1)).count()
        }
        assert(e.getMessage.contains("append-only id contract violated"),
          s"case $i (baseN=$baseN overlap=$overlap): ${e.getMessage}")
        // the re-id'd twin of the SAME batch is accepted: the guard
        // rejects the id overlap, not the content
        val ok = LineDedupe.cutLinesIncremental(idx,
          batch.selectExpr(s"doc_id + $baseN AS doc_id", "text"),
          "doc_id", "text", MinChars, baseMaxDocId = Some(baseN - 1))
        assert(ok.count() === batchN)
      }
    }
  }

  test("generated minLineChars mismatches refuse at the sidecar guard") {
    // the CLI refresh path: an index built with floor a, a refresh
    // asking for floor b != a — the sidecar pins a, the refresh refuses
    val gen = for {
      a <- Gen.choose(5, 20)
      delta <- Gen.choose(1, 10)
      sign <- Gen.oneOf(-1, 1)
    } yield (a, math.max(1, a + sign * delta))
    val tmp = java.nio.file.Files.createTempDirectory("lineguard")
    SessionCaches.scope {
      (0 until 5).foreach { i =>
        val (a, b0) = gen.pureApply(Gen.Parameters.default, Seed(9400L + i))
        val b = if (b0 == a) a + 1 else b0
        val docsPath = s"$tmp/docs$i"
        val idxPath = s"$tmp/idx$i"
        corpus(0, 5, s"m$i").write.mode("overwrite").parquet(docsPath)
        Cli.lineIndexReport(spark, docsPath, idxPath, a)
        val e = intercept[IllegalArgumentException] {
          Cli.cutLinesIncrementalReport(
            spark, idxPath, docsPath, s"$tmp/out$i", b)
        }
        assert(e.getMessage.contains(s"built with minLineChars=$a") &&
          e.getMessage.contains("mismatched"),
          s"case $i (a=$a b=$b): ${e.getMessage}")
      }
    }
  }

  test("a sidecar-less index refuses; so does a non-index parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("lineguard2")
    val docsPath = s"$tmp/docs"
    corpus(0, 5, "s").write.mode("overwrite").parquet(docsPath)
    SessionCaches.scope {
      // a structurally valid (llo, lhi) index written WITHOUT the
      // sidecar (pre-sidecar layout, or a hand-rolled copy): refuse —
      // the refresh cannot verify minLineChars/maxDocId without it
      val bareIdx = s"$tmp/bare_idx"
      LineDedupe.lineIndex(corpus(0, 5, "s"), "text", MinChars)
        .write.mode("overwrite").parquet(bareIdx)
      val e1 = intercept[IllegalArgumentException] {
        Cli.cutLinesIncrementalReport(
          spark, bareIdx, docsPath, s"$tmp/out1", MinChars)
      }
      assert(e1.getMessage.contains(
        s"no ${LineIndexMeta.FileName} sidecar"), e1.getMessage)
      // a parquet that isn't a line index at all (wrong columns)
      val e2 = intercept[IllegalArgumentException] {
        Cli.cutLinesIncrementalReport(
          spark, docsPath, docsPath, s"$tmp/out2", MinChars)
      }
      assert(e2.getMessage.contains("not a line-index"), e2.getMessage)
      // an EMPTY corpus never becomes an index (almost certainly a
      // wrong input path) — the build itself refuses
      val emptyPath = s"$tmp/empty"
      corpus(0, 5, "s").filter("doc_id < 0")
        .write.mode("overwrite").parquet(emptyPath)
      val e3 = intercept[IllegalArgumentException] {
        Cli.lineIndexReport(spark, emptyPath, s"$tmp/idx_e", MinChars)
      }
      assert(e3.getMessage.contains("empty documents parquet"), e3.getMessage)
    }
  }
}
