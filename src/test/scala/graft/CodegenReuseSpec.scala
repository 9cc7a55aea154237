package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Child sessions reuse the generated classes of an identical earlier
  * query. Spark's codegen cache is keyed on the task's class loader as well
  * as the code, so a session with its own artifact class loader compiles,
  * loads and JIT-compiles every class again. The pins count Janino
  * compiles (cache misses) across the second of two identical runs.
  */
class CodegenReuseSpec extends SparkSpec {

  private def compiles[A](body: => A): (A, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  test("a re-run stream compiles nothing: its child session shares the class loader") {
    def estimate() = streaming.StreamCdc
      .runEstimateOnce(spark, sf() + "/documents.parquet", "codegen_reuse_cdc")
      .collect().toSeq
    val first = estimate()
    val (second, n) = compiles(estimate())
    assert(n == 0, s"the second stream run compiled $n classes")
    assert(second == first)
  }

  test("a query on a fresh sizedSession clone compiles nothing the caller compiled") {
    // rows sized to twice the caller's width at 64 MiB per partition: a clone
    val rows = 2L * spark.conf.get("spark.sql.shuffle.partitions").toLong *
      (64L << 20) / Conf.GramRowShuffleBytes
    def query(s: SparkSession) = s.range(200000)
      .groupBy((col("id") % 97).as("k"))
      .agg(sum("id").as("s"), max("id").as("m"))
      .orderBy("k").collect().toSeq
    def onClone() = {
      val sized = Conf.sizedSession(spark, rows, Conf.GramRowShuffleBytes)
      assert(!(sized eq spark))
      query(sized)
    }
    val first = onClone()
    val (second, n) = compiles(onClone())
    assert(n == 0, s"the query on a second clone compiled $n classes")
    assert(second == first)
  }
}
