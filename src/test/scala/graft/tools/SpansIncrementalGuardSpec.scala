package graft.tools

import graft.SparkSpec
import graft.operators.{Dedupe, SessionCaches, SpanIndexMeta}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style validation of the incremental SPAN-dedup REFUSAL
  * paths — the mirror of [[LinesIncrementalGuardSpec]] for the
  * exact-substring family: [[Dedupe.cutSpansIncremental]] is exactly
  * keep-earliest ONLY under the append-only id contract (every base id
  * < every batch id) and the index's own build parameters (windowTokens,
  * hash128) — a violated precondition must refuse loudly, never produce
  * a silently wrong cut. The happy paths are pinned in DedupeSpansSpec /
  * ToolsSpec on fixed fixtures; this spec GENERATES violating
  * configurations (overlapping id ranges, mismatched window sizes,
  * missing/64-bit/foreign sidecars) and asserts each refuses with its
  * documented error.
  */
class SpansIncrementalGuardSpec extends SparkSpec {

  private val W = 5

  /** A plausible corpus: ids in [lo, hi), every doc long enough to
    * window at W tokens, with a shared boilerplate head (dense window
    * duplication) plus an id-unique tail.
    */
  private def corpus(lo: Long, hi: Long, tag: String) =
    spark.range(lo, hi).selectExpr("id AS doc_id",
      "concat('shared boilerplate window head alpha beta gamma delta ', " +
        s"id % 3, ' $tag tail one two three four five six seven ', id) AS text")

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
          gen.pureApply(Gen.Parameters.default, Seed(9700L + i))
        val base = corpus(0, baseN, s"g$i")
        val idx = Dedupe.windowIndex(base, "text", windowTokens = W,
          hash128 = true)
        val lo = baseN - overlap
        val batch = corpus(lo, lo + batchN, s"g$i")
        val e = intercept[IllegalArgumentException] {
          Dedupe.cutSpansIncremental(idx, batch, "doc_id", "text",
            windowTokens = W, hash128 = true,
            baseMaxDocId = Some(baseN - 1)).count()
        }
        assert(e.getMessage.contains("append-only id contract violated"),
          s"case $i (baseN=$baseN overlap=$overlap): ${e.getMessage}")
        // the re-id'd twin of the SAME batch is accepted: the guard
        // rejects the id overlap, not the content
        val ok = Dedupe.cutSpansIncremental(idx,
          batch.selectExpr(s"doc_id + $baseN AS doc_id", "text"),
          "doc_id", "text", windowTokens = W, hash128 = true,
          baseMaxDocId = Some(baseN - 1))
        assert(ok.count() === batchN)
      }
    }
  }

  test("generated windowTokens mismatches refuse at the sidecar guard") {
    // the CLI refresh path: an index built with window a, a refresh
    // asking for window b != a — the sidecar pins a, the refresh refuses
    val gen = for {
      a <- Gen.choose(3, 12)
      delta <- Gen.choose(1, 6)
      sign <- Gen.oneOf(-1, 1)
    } yield (a, math.max(2, a + sign * delta))
    val tmp = java.nio.file.Files.createTempDirectory("spanguard")
    SessionCaches.scope {
      (0 until 5).foreach { i =>
        val (a, b0) = gen.pureApply(Gen.Parameters.default, Seed(9800L + i))
        val b = if (b0 == a) a + 1 else b0
        val docsPath = s"$tmp/docs$i"
        val idxPath = s"$tmp/idx$i"
        corpus(0, 5, s"m$i").write.mode("overwrite").parquet(docsPath)
        Cli.spanIndexReport(spark, docsPath, idxPath, a)
        val e = intercept[IllegalArgumentException] {
          Cli.cutSpansIncrementalReport(
            spark, idxPath, docsPath, s"$tmp/out$i", b)
        }
        assert(e.getMessage.contains(s"built with windowTokens=$a") &&
          e.getMessage.contains("mismatched"),
          s"case $i (a=$a b=$b): ${e.getMessage}")
      }
    }
  }

  test("a sidecar-less index refuses; so do 64-bit and non-index inputs") {
    val tmp = java.nio.file.Files.createTempDirectory("spanguard2")
    val docsPath = s"$tmp/docs"
    corpus(0, 5, "s").write.mode("overwrite").parquet(docsPath)
    SessionCaches.scope {
      // a structurally valid (wlo, whi) index written WITHOUT the
      // sidecar (pre-sidecar layout, or a hand-rolled copy): refuse —
      // the refresh cannot verify windowTokens/hash128/maxDocId without it
      val bareIdx = s"$tmp/bare_idx"
      Dedupe.windowIndex(corpus(0, 5, "s"), "text", windowTokens = W,
        hash128 = true).write.mode("overwrite").parquet(bareIdx)
      val e1 = intercept[IllegalArgumentException] {
        Cli.cutSpansIncrementalReport(
          spark, bareIdx, docsPath, s"$tmp/out1", W)
      }
      assert(e1.getMessage.contains(
        s"no ${SpanIndexMeta.FileName} sidecar"), e1.getMessage)
      // a 64-bit index (hash128=false in the sidecar) refuses: the
      // incremental cut carries 128-bit identity end-to-end
      val idx64 = s"$tmp/idx64"
      Dedupe.windowIndex(corpus(0, 5, "s"), "text", windowTokens = W,
        hash128 = false).write.mode("overwrite").parquet(idx64)
      SpanIndexMeta.write(spark.sparkContext.hadoopConfiguration, idx64,
        SpanIndexMeta(W, hash128 = false, maxDocId = 4L, windows = 1L))
      val e64 = intercept[IllegalArgumentException] {
        Cli.cutSpansIncrementalReport(
          spark, idx64, docsPath, s"$tmp/out64", W)
      }
      assert(e64.getMessage.contains("built 64-bit"), e64.getMessage)
      // a parquet that isn't a span index at all (wrong columns)
      val e2 = intercept[IllegalArgumentException] {
        Cli.cutSpansIncrementalReport(
          spark, docsPath, docsPath, s"$tmp/out2", W)
      }
      assert(e2.getMessage.contains("not a span-index"), e2.getMessage)
      // an EMPTY corpus never becomes an index (almost certainly a
      // wrong input path) — the build itself refuses
      val emptyPath = s"$tmp/empty"
      corpus(0, 5, "s").filter("doc_id < 0")
        .write.mode("overwrite").parquet(emptyPath)
      val e3 = intercept[IllegalArgumentException] {
        Cli.spanIndexReport(spark, emptyPath, s"$tmp/idx_e", W)
      }
      assert(e3.getMessage.contains("empty documents parquet"), e3.getMessage)
    }
  }
}
