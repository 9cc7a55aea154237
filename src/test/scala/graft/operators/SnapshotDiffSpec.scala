package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

class SnapshotDiffSpec extends SparkSpec {

  test("all four statuses classify correctly") {
    import spark.implicits._
    val old = Seq(
      (1L, "same"), (2L, "was this"), (3L, "gone")).toDF("id", "body")
    val neu = Seq(
      (1L, "same"), (2L, "now this"), (4L, "fresh")).toDF("id", "body")
    val got = SnapshotDiff.diff(old, neu, "id", Seq("body"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("content canonicalization: NULL vs empty and column-boundary shifts differ") {
    import spark.implicits._
    val old = Seq(
      (1L, Some(""), Some("x")), // "" vs NULL must differ
      (2L, Some("a"), Some("b")) // ("a","b") vs ("ab","") must differ
    ).toDF("id", "c1", "c2")
    val neu = Seq(
      (1L, None: Option[String], Some("x")),
      (2L, Some("ab"), Some(""))
    ).toDF("id", "c1", "c2")
    val got = SnapshotDiff.diff(old, neu, "id", Seq("c1", "c2"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "changed", 2L -> "changed"))
  }

  test("summary totals partition the key universe") {
    import spark.implicits._
    val old = spark.range(100).select(col("id"), concat(lit("v"), col("id")).as("body"))
    val neu = spark.range(20, 120).select(col("id"),
      when(col("id") % 3 === 0, concat(lit("v"), col("id"), lit("'"))) // changed
        .otherwise(concat(lit("v"), col("id"))).as("body"))
    val got = SnapshotDiff.summary(old, neu, "id", Seq("body"))
      .as[(String, Long)].collect().toMap
    assert(got("added") == 20L && got("removed") == 20L)
    assert(got("added") + got("removed") + got("changed") + got("unchanged") == 120L)
  }

  test("scale shape: no exchange ever carries the payload column") {
    // wide payload column: the whole point of hashing before the join is
    // that the shuffle moves (key, digest), not this
    val old = spark.range(5000).select(col("id"),
      concat(lit("payload-"), col("id")).as("text"))
    val neu = spark.range(2500, 7500).select(col("id"),
      concat(lit("payload-"), col("id")).as("text"))
    val df = SnapshotDiff.diff(old, neu, "id", Seq("text"))
    df.collect() // finalize AQE
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      (p match { case e: ShuffleExchangeExec => Seq(e); case _ => Nil }) ++
        kids.flatMap(exchanges)
    }
    val ex = exchanges(df.queryExecution.executedPlan)
    ex.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"exchange shuffles the payload column:\n$e")
    }
  }
}
