package graft.operators

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.{Harness, SparkEntry, SparkSpec}

/** The one cache-lifetime registry ([[SessionCaches]]). Shared scope: a
  * build runs at most once per key, even under concurrent first callers
  * and when builds nest; `release(part)` drops exactly one corpus's
  * entries, which rebuild on next use. Ownership: a relation an operator
  * tracks while a shared build runs belongs to that shared entry, so no
  * scoped release — at scope exit, by hand, or from another thread —
  * can unpersist it; only `release(part)` does. (The scoped LRU's own
  * bounds are pinned by DedupeCacheLifecycleSpec.)
  */
class SessionCachesSpec extends SparkSpec {
  import spark.implicits._

  private def persisted(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  /** a distinct key part per test: entries never collide across tests */
  private def dir(tag: String) = s"/graft-test-cache/${System.nanoTime()}/$tag"

  /** content-unique signatures (Spark keys caches by canonical plan) */
  private def sigs(from: Long) = (from until from + 200L)
    .map(i => (i, i * 0x9e3779b97f4a7c15L)).toDF("id", "sig")

  test("release(part) evicts + unpersists per dir; other corpora stay cached") {
    var builds = 0
    def build() = {
      builds += 1
      Seq(builds).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    }
    val dirA = dir("a")
    val dirB = dir("b")
    val a = SessionCaches.shared(spark, "test_release", dirA)(build())
    a.count()
    val b = SessionCaches.shared(spark, "test_release", dirB)(build())
    b.count()
    assert(builds == 2 && persisted(a))

    assert(SessionCaches.release(dirA) == 1)
    assert(!persisted(a), "evicted relation must be unpersisted")
    assert(persisted(b), "another corpus's relation must stay cached")

    SessionCaches.shared(spark, "test_release", dirA)(build())
    assert(builds == 3, "evicted key must rebuild on next use")
    SessionCaches.shared(spark, "test_release", dirB)(build())
    assert(builds == 3, "retained key must still hit the cache")

    assert(SessionCaches.release(dirA) + SessionCaches.release(dirB) == 2)
  }

  test("shared: single evaluation under concurrent first callers") {
    val d = dir("concurrent")
    val builds = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (0 until 32).map { _ =>
        pool.submit(new Callable[String] {
          def call(): String = SessionCaches.shared(spark, "test_once", d) {
            builds.incrementAndGet()
            Thread.sleep(20) // widen the race window
            "built"
          }
        })
      }
      assert(results.map(_.get()).distinct == Seq("built"))
      assert(builds.get() == 1, s"initializer ran ${builds.get()} times")
    } finally pool.shutdown()
    // distinct key parts get distinct entries (no concatenation aliasing)
    var other = 0
    SessionCaches.shared(spark, "test_alias", d, "A") { other += 1; "x" }
    SessionCaches.shared(spark, "test_alias", d + "A", "") { other += 1; "y" }
    assert(other == 2, "key parts must not alias by concatenation")
    SessionCaches.release(d)
    SessionCaches.release(d + "A")
  }

  test("a nested shared build completes; each build runs once") {
    // 32 inner keys: a build run inside the map's own computeIfAbsent
    // would almost surely meet the outer key's bin ("Recursive update")
    val d = dir("nested")
    val inner = new AtomicInteger(0)
    var outer = 0
    def innerRel(i: Int) = SessionCaches.shared(spark, "test_inner", d, i.toString) {
      inner.incrementAndGet()
      s"inner $i"
    }
    def outerRel() = SessionCaches.shared(spark, "test_outer", d) {
      outer += 1
      (0 until 32).map(innerRel).mkString(",")
    }
    assert(outerRel() == (0 until 32).map(i => s"inner $i").mkString(","))
    assert(innerRel(7) == "inner 7" && outerRel().nonEmpty)
    assert(inner.get == 32 && outer == 1,
      s"inner builds ran ${inner.get} times, outer $outer times")
    assert(SessionCaches.release(d) == 33, "both levels must be cached")
  }

  test("hammingPairs inside a shared build outlives every scoped release") {
    val d = dir("hamming")
    val pairs = SessionCaches.shared(spark, "test_hamming", d) {
      Dedupe.hammingPairs(sigs(0L), maxDistance = 3)
    }
    SessionCaches.scope(assert(pairs.count() >= 0L))
    assert(persisted(pairs), "scope exit unpersisted a shared relation")
    SessionCaches.release()
    assert(persisted(pairs), "release() unpersisted a shared relation")
    assert(SessionCaches.release(d) == 1)
    assert(!persisted(pairs), "release(dir) must unpersist the owned relation")
  }

  test("a release() from another thread during a shared build spares it") {
    val d = dir("threads")
    val released = new CountDownLatch(1)
    val pairs = SessionCaches.shared(spark, "test_threads", d) {
      val p = Dedupe.hammingPairs(sigs(1000L), maxDistance = 3)
      val t = new Thread(() => { SessionCaches.release(); released.countDown() })
      t.start()
      assert(released.await(60, TimeUnit.SECONDS))
      p
    }
    assert(persisted(pairs),
      "a concurrent scoped release evicted a relation owned by a shared build")
    SessionCaches.release(d)
    assert(!persisted(pairs))
  }

  test("minOf(2) over mm_phash_neardup builds the phash pairs once") {
    val sfDir = sf()
    SessionCaches.release(sfDir) // cold start: the attempts pay the build
    val seen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val t = Harness.minOf(2) {
      val df = SparkEntry.queries("mm_phash_neardup")(spark, sfDir)
      df.count()
      seen += df
    }
    assert(t >= 0 && seen.size == 2)
    assert(seen(0) eq seen(1), "the second attempt rebuilt the shared pairs")
    assert(persisted(seen(0)),
      "a timed attempt's scope released the shared pair relation")
    SessionCaches.release(sfDir)
  }
}
