package graft.operators

import org.apache.spark.storage.StorageLevel
import graft.SparkSpec

/** The scoped cache lifecycle of the dedup-family operators
  * ([[SessionCaches.track]] / [[SessionCaches.MaxScoped]] /
  * [[SessionCaches.scope]]): an
  * application that loops the dedup-family operators with ZERO release
  * discipline must hold O(1) cached relations (bounded-registry
  * eviction), the loan bracket must release on normal exit and on
  * exception, and an evicted (unpersisted) relation must stay CORRECT —
  * it recomputes, never breaks.
  *
  * Every corpus here is content-unique (a tag line seeds each one):
  * Spark's cache manager keys entries by CANONICALIZED plan, so two
  * calls over byte-identical local fixtures would share one cache entry
  * and alias each other's persistence state — the assertions below need
  * each call to own its entry. The assertions are also monotone under
  * the suite-parallel test JVM: concurrent suites can only push MORE
  * registrations through the shared registry (more eviction, more
  * release), so "at most cap of mine are still persisted" never flakes.
  */
class DedupeCacheLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val header = "subscribe to our newsletter today"
  private val footer = "copyright twenty twenty six all rights reserved"
  private def fixture(tag: String) = Seq(
    (1L, s"$header\nunique first body line\n$footer"),
    (2L, s"$header\nanother body line here\n$footer"),
    (3L, s"ok\n$header\n"),
    (4L, s"cache lifecycle tag line $tag")
  ).toDF("doc_id", "text")

  private def persisted(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("a release-free loop of cutDuplicateLines holds O(1) cached relations") {
    val n = 3 * SessionCaches.MaxScoped // well past the bound
    val reports = (1 to n).map { i =>
      // consume fully, never release — the undisciplined embedding app
      val fx = fixture(s"loop iteration $i")
      val cut = LineDedupe.cutDuplicateLines(fx, "doc_id", "text")
      assert(cut.count() === 4L)
      val rep = LineDedupe.duplicateLines(fx, "doc_id", "text")
      assert(rep.count() === 2L, s"iteration $i")
      // the registry bound is a hard invariant, enforced under its lock
      assert(SessionCaches.scopedCount <= SessionCaches.MaxScoped)
      rep
    }
    // of the n report relations this loop was handed, at most cap can
    // still be persisted — everything older was evicted (unpersisted)
    val stillPersisted = reports.count(persisted)
    assert(stillPersisted <= SessionCaches.MaxScoped,
      s"$stillPersisted of $n loop results still persisted — the " +
        "registry bound did not evict")
    // an evicted relation is still a valid plan: it recomputes
    val first = reports.head
    assert(first.collect().map(_.getString(0)).toSet === Set(header, footer))
  }

  test("a same-corpus loop never evicts its own cache through plan aliasing") {
    // The OTHER loop shape: the same operator over the SAME input, past
    // the registry bound. Spark's cache manager keys by canonicalized
    // plan, so every iteration's result aliases ONE cache entry — a
    // registry that kept stale registrations would evict an old one and
    // unpersist the newest call's cache through the alias. track()
    // dedupes registrations by canonical plan, so the loop holds one
    // registration per distinct relation and the latest result STAYS
    // persisted.
    val fx = fixture("aliased same-plan loop")
    val n = 3 * SessionCaches.MaxScoped
    var last: org.apache.spark.sql.DataFrame = null
    (1 to n).foreach { i =>
      last = LineDedupe.duplicateLines(fx, "doc_id", "text")
      assert(last.count() === 2L, s"iteration $i")
    }
    assert(persisted(last),
      "the latest same-plan result was unpersisted by registry eviction " +
        "(canonical-plan aliasing)")
    SessionCaches.release()
    assert(!persisted(last))
  }

  test("an interleaved two-family loop keeps both hot indexes resident") {
    // The cross-plan eviction shape: two operator families interleaved
    // in a loop, each iteration consuming a long-lived tracked INDEX
    // (line index, span window index) and tracking its own fresh cut
    // result. Plain FIFO-by-registration would evict the hot indexes —
    // registered once, at the very start — while the loop's cold
    // younger results survive; the LRU touch the incremental cuts issue
    // on entry keeps both indexes resident under the cap.
    //
    // NOTE: unlike this suite's other tests, the persisted(idx*)
    // assertions are POSITIVE persistence claims on the process-global
    // registry, valid because forked suites run sequentially (no
    // Test/testForkedParallel in build.sbt — the same assumption
    // KmvGuardSpec documents). A concurrent suite pushing >= cap
    // registrations between a touch and its assert could evict the hot
    // index; revisit if suite-parallel forking is ever enabled.
    SessionCaches.release() // deterministic start: empty registry
    val idxLines = LineDedupe.lineIndex(
      fixture("interleaved lines base"), "text", minLineChars = 10)
    val idxSpans = Dedupe.windowIndex(
      Seq((1L, "interleaved spans base " + (1 to 30).map(i => s"tok$i").mkString(" ")))
        .toDF("doc_id", "text"),
      "text", windowTokens = 5)
    assert(persisted(idxLines) && persisted(idxSpans))
    val n = 3 * SessionCaches.MaxScoped
    (1 to n).foreach { i =>
      // content-unique batches with ids above both base ranges, so every
      // iteration tracks fresh canonical plans (real eviction pressure)
      val batchL = Seq((100L + i,
        s"interleaved batch line family iteration $i body text"))
        .toDF("doc_id", "text")
      LineDedupe.cutLinesIncremental(idxLines, batchL, "doc_id", "text",
        minLineChars = 10, baseMaxDocId = Some(4L)).count()
      val batchS = Seq((100L + i,
        s"interleaved span family iteration $i " +
          (1 to 12).map(j => s"w${i}x$j").mkString(" ")))
        .toDF("doc_id", "text")
      Dedupe.cutSpansIncremental(idxSpans, batchS, "doc_id", "text",
        windowTokens = 5, baseMaxDocId = Some(1L)).count()
      assert(SessionCaches.scopedCount <= SessionCaches.MaxScoped)
      assert(persisted(idxLines) && persisted(idxSpans),
        s"iteration $i evicted a hot index — LRU touch did not refresh")
    }
    SessionCaches.release()
    assert(!persisted(idxLines) && !persisted(idxSpans))
  }

  test("scope releases on normal exit") {
    val rep = SessionCaches.scope {
      val r = LineDedupe.duplicateLines(
        fixture("bracket normal exit"), "doc_id", "text")
      assert(r.count() === 2L) // consumed inside the loan scope
      r
    }
    assert(!persisted(rep), "bracket exit left the tracked relation cached")
    // released ≠ broken: consuming after the bracket recomputes
    assert(rep.count() === 2L)
  }

  test("scope releases on exception and rethrows") {
    var rep: org.apache.spark.sql.DataFrame = null
    val boom = intercept[RuntimeException] {
      SessionCaches.scope {
        rep = LineDedupe.duplicateLines(
          fixture("bracket exception exit"), "doc_id", "text")
        rep.count()
        throw new RuntimeException("consumer failed mid-scope")
      }
    }
    assert(boom.getMessage === "consumer failed mid-scope")
    assert(rep != null && !persisted(rep),
      "exception exit left the tracked relation cached")
  }
}
