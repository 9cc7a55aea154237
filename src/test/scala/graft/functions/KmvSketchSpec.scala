package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KmvSketchSpec extends SparkSpec {

  test("exact below k: small distinct sets are counted exactly") {
    import spark.implicits._
    val df = (0L until 500L).map(i => i % 100).toDF("h")
      .select(xxhash64(col("h")).as("hash"))
    val est = df.agg(KmvSketch.kmv_distinct(col("hash"), k = 1024)).head().getLong(0)
    assert(est == 100L)
  }

  test("estimate within 10% for 100k distinct values at k=1024") {
    val n = 100000L
    val df = spark.range(n).select(xxhash64(col("id")).as("hash"))
    val est = df.agg(KmvSketch.kmv_distinct(col("hash"), k = 1024)).head().getLong(0)
    val err = math.abs(est - n).toDouble / n
    info(f"kmv estimate: $est (err ${err * 100}%.1f%%)")
    assert(err < 0.10, s"estimate $est too far from $n")
  }

  test("stable under repartitioning (merge correctness)") {
    val df = spark.range(50000L).select(xxhash64(col("id")).as("hash"))
    val a = df.agg(KmvSketch.kmv_distinct(col("hash"))).head().getLong(0)
    val b = df.repartition(17).agg(KmvSketch.kmv_distinct(col("hash"))).head().getLong(0)
    assert(a == b, "sketch must be partitioning-invariant")
  }

  test("duplicates don't inflate the estimate") {
    val distinct = spark.range(20000L).select(xxhash64(col("id")).as("hash"))
    val duplicated = distinct.union(distinct).union(distinct)
    val a = distinct.agg(KmvSketch.kmv_distinct(col("hash"))).head().getLong(0)
    val b = duplicated.agg(KmvSketch.kmv_distinct(col("hash"))).head().getLong(0)
    assert(a == b)
  }

  test("jaccard estimate from samples: exact below k, accurate above") {
    // sets A = [0, 30000), B = [15000, 45000): true jaccard = 15000/45000 = 1/3
    val a = spark.range(0, 30000).select(xxhash64(col("id")).as("h"))
      .agg(KmvSketch.kmv_sample(col("h"))).head().getSeq[Long](0).toArray
    val b = spark.range(15000, 45000).select(xxhash64(col("id")).as("h"))
      .agg(KmvSketch.kmv_sample(col("h"))).head().getSeq[Long](0).toArray
    val est = KmvSketch.jaccardEstimate(a, b, k = 1024)
    info(f"kmv jaccard estimate: $est%.3f (true 0.333)")
    assert(math.abs(est - 1.0 / 3) < 0.06, s"est=$est")
    // identical sets -> 1.0; disjoint small sets -> 0.0 exactly
    assert(KmvSketch.jaccardEstimate(a, a, k = 1024) == 1.0)
    val tiny1 = spark.range(0, 100).select(xxhash64(col("id")).as("h"))
      .agg(KmvSketch.kmv_sample(col("h"))).head().getSeq[Long](0).toArray
    val tiny2 = spark.range(1000000, 1000100).select(xxhash64(col("id")).as("h"))
      .agg(KmvSketch.kmv_sample(col("h"))).head().getSeq[Long](0).toArray
    assert(KmvSketch.jaccardEstimate(tiny1, tiny2, k = 1024) == 0.0)
  }

  test("jaccard on unsaturated samples is exact set jaccard") {
    // below k the samples ARE the sets: {1,2} vs {1,2,9} -> 2/3 exactly
    assert(KmvSketch.jaccardEstimate(Array(1L, 2L), Array(1L, 2L, 9L), k = 1024) == 2.0 / 3)
    // saturated sample: membership unknown above its max; union truncates
    val a = (1L to 10L).toArray // saturated at k=10
    val b = Array(1L, 2L, 3L, 50L) // unsaturated
    val est = KmvSketch.jaccardEstimate(a, b, k = 10)
    // threshold = 10 -> union [1..10], shared {1,2,3} -> 0.3 (50 unknowable for a)
    assert(est == 0.3, s"est=$est")
  }

  test("grouped aggregation works (one sketch per group)") {
    val df = spark.range(30000L)
      .select((col("id") % 3).as("g"), xxhash64(col("id")).as("hash"))
    val rows = df.groupBy(col("g")).agg(KmvSketch.kmv_distinct(col("hash")).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.values.foreach(est => assert(math.abs(est - 10000L) < 1500L, s"est=$est"))
  }

  /** The error bound dedup_spans_approx relies on at sketch-saturating
    * corpus scale: for n ≫ k the KMV estimator has rsd = 1/√(k−1), so a
    * 5·rsd worst-case band holds with overwhelming probability. The
    * stream is DETERMINISTIC (xxhash64 over a range — the same hash
    * family the span kernel uses), so this is a pinned regression test,
    * not a flaky statistical one: n = 500 k distinct at k = 4096
    * (122× saturated), bound 5/√4095 ≈ 7.8 %.
    */
  test("saturated error bound: 500k distinct at k=4096 within 5·rsd") {
    val n = 500000L
    val k = 4096
    val df = spark.range(n).select(xxhash64(col("id")).as("hash"))
    val est = df.agg(KmvSketch.kmv_distinct(col("hash"), k)).head().getLong(0)
    val err = math.abs(est - n).toDouble / n
    val bound = 5.0 / math.sqrt(k - 1.0)
    info(f"kmv saturated estimate: $est (err ${err * 100}%.2f%%, " +
      f"bound ${bound * 100}%.2f%%)")
    assert(err < bound, s"estimate $est breaks the 5·rsd bound for $n")
  }
}
