package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.DriftStats

/** Streaming distribution-shift monitor: the LIVE side of a
  * [[graft.operators.DriftStats]] histogram accumulates through the
  * Structured Streaming state store (complete-mode groupBy count — each
  * micro-batch merges its partial counts into the store, exactly the
  * batch aggregation's partial/final split stretched over time), and
  * the drift relation against a batch reference profile is computed
  * from the store's final contents. The production shape: the monitor
  * subscribes to the ingest stream and alerts when the arriving
  * corpus's profile diverges from the last published cut.
  *
  * State is bounded by nBuckets rows per aggregation — the smallest
  * possible stateful-streaming footprint; no watermark needed because
  * bucket cardinality, not time, bounds the store.
  */
object StreamDrift {

  /** Complete-mode per-bucket count over a streaming relation — the
    * batch histogram verbatim (DriftStats.histogram is stream-safe);
    * sharing the builder is what guarantees the stream accumulates the
    * SAME relation the drift join expects.
    */
  def liveHistogram(stream: DataFrame, v: Column, bucketWidth: Long,
      nBuckets: Int, countName: String): DataFrame =
    DriftStats.histogram(stream, v, bucketWidth, nBuckets, countName)

  /** Run the live histogram over a finite parquet input (optionally
    * revised in-stream by `revise` — filters/projections/unions are all
    * stream-safe), then drift it against the batch `reference` values.
    *
    * @return the [[DriftStats.driftFromHists]] relation where old_n is
    *         the reference profile and new_n arrived via the state store
    */
  def runDriftOnce(
      spark: SparkSession,
      docsPath: String,
      queryName: String,
      reference: DataFrame,
      referenceVal: Column,
      streamVal: Column,
      bucketWidth: Long,
      nBuckets: Int,
      revise: DataFrame => DataFrame = identity): DataFrame = {
    val live = EventStream.runToMemory(spark, docsPath, queryName,
      s => liveHistogram(revise(s), streamVal, bucketWidth, nBuckets, "new_n"),
      OutputMode.Complete())
    DriftStats.driftFromHists(
      DriftStats.histogram(reference, referenceVal, bucketWidth, nBuckets,
        "old_n"),
      live)
  }
}
