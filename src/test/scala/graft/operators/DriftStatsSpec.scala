package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DriftStatsSpec extends SparkSpec {

  test("identical snapshots drift zero in every bucket") {
    val df = spark.range(1000).select((col("id") % 97).as("v"))
    val got = DriftStats.histogramDrift(df, col("v"), df, col("v"), 10L, 8)
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("old_n") == r.getAs[Long]("new_n"))
      assert(r.getAs[Double]("abs_drift") == 0.0)
      assert(r.getAs[Long]("drift_scaled") == 0L)
    }
  }

  test("a known mass shift produces the exact TV terms") {
    import spark.implicits._
    // old: 4 values in bucket 0, 4 in bucket 1; new: all 8 in bucket 1
    val old = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L).toDF("v")
    val neu = Seq(10L, 11L, 12L, 13L, 14L, 15L, 16L, 17L).toDF("v")
    val got = DriftStats.histogramDrift(old, col("v"), neu, col("v"), 10L, 4)
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Double]("old_frac"), r.getAs[Double]("new_frac"),
          r.getAs[Double]("abs_drift"))).toMap
    assert(got(0L) == ((0.5, 0.0, 0.5)))
    assert(got(1L) == ((0.5, 1.0, 0.5)))
    // total variation = half the term sum = 0.5: the mass that moved
    assert(got.values.map(_._3).sum / 2 == 0.5)
  }

  test("values beyond the range clamp into the open top bucket") {
    import spark.implicits._
    val old = Seq(5L, 1000000L).toDF("v")
    val neu = Seq(5L, 35L).toDF("v")
    val got = DriftStats.histogramDrift(old, col("v"), neu, col("v"), 10L, 4)
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("old_n"), r.getAs[Long]("new_n"))).toMap
    assert(got(3L) == ((1L, 1L)), s"top bucket must hold both: $got")
    assert(!got.keySet.exists(_ > 3L))
  }

  test("groupedHistogramDrift: fractions are within-group, shift localized") {
    import spark.implicits._
    // group a: mass moves bucket 0 -> 1 (TV = 0.5); group b: unchanged
    val old = Seq(("a", 1L), ("a", 2L), ("a", 11L), ("a", 12L),
      ("b", 5L), ("b", 15L)).toDF("g", "v")
    val neu = Seq(("a", 11L), ("a", 12L), ("a", 13L), ("a", 14L),
      ("b", 5L), ("b", 15L)).toDF("g", "v")
    val got = DriftStats.groupedHistogramDrift(old, col("v"), neu, col("v"),
      "g", 10L, 4).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("bucket")) ->
        r.getAs[Double]("abs_drift")).toMap
    assert(got(("a", 0L)) == 0.5 && got(("a", 1L)) == 0.5)
    assert(got(("b", 0L)) == 0.0 && got(("b", 1L)) == 0.0)
    // per-group TV: a moved half its mass, b none
    val tvA = got.collect { case (("a", _), d) => d }.sum / 2
    val tvB = got.collect { case (("b", _), d) => d }.sum / 2
    assert(tvA == 0.5 && tvB == 0.0)
  }

  test("null values land in a visible null bucket, not the top bucket") {
    import spark.implicits._
    val df = Seq(Some(5L), None, Some(1000L)).toDF("v")
    val hist = DriftStats.histogram(df, col("v"), 10L, 4, "n")
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)))
        -> r.getAs[Long]("n")).toMap
    assert(hist == Map(Some(0L) -> 1L, Some(3L) -> 1L, None -> 1L),
      s"null must not be filed as maximal: $hist")
  }

  test("centroidDrift: hand-computed L1 shift and a vanished group") {
    import spark.implicits._
    // group 1: old centroid (0.5, 0.5), new centroid (1, 1) -> L1 = 1.0
    // group 2: present only in old -> n_new = 0, null drift, zero numerator
    val old = Seq((1, Seq(1.0f, 0.0f)), (1, Seq(0.0f, 1.0f)),
      (2, Seq(0.5f, 0.5f))).toDF("label", "embedding")
    val neu = Seq((1, Seq(1.0f, 1.0f))).toDF("label", "embedding")
    val got = DriftStats.centroidDrift(old, neu, "label", "embedding")
      .collect().map(r => r.getAs[Int]("label") -> r).toMap
    assert(got(1).getAs[Long]("n_old") == 2L)
    assert(got(1).getAs[Long]("n_new") == 1L)
    assert(got(1).getAs[Long]("l1_drift_num") == 2000L)
    assert(got(1).getAs[Double]("l1_drift") == 1.0)
    assert(got(2).getAs[Long]("n_new") == 0L)
    assert(got(2).getAs[Long]("l1_drift_num") == 0L)
    assert(got(2).isNullAt(got(2).fieldIndex("l1_drift")))
  }

  test("centroidDrift: identical snapshots drift zero") {
    val df = spark.range(100).select((col("id") % 5).cast("int").as("label"),
      array((col("id") % 7).cast("float") / 10f,
        (col("id") % 3).cast("float") / 10f).as("embedding"))
    val got = DriftStats.centroidDrift(df, df, "label", "embedding").collect()
    assert(got.length == 5)
    got.foreach { r =>
      assert(r.getAs[Long]("l1_drift_num") == 0L)
      assert(r.getAs[Double]("l1_drift") == 0.0)
    }
  }
}
