package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.OutputMode

/** Fixed no-op stateful micro-batch probe — Bench's streaming I/O-floor
  * sentinel (round-19: the r18 bench showed the stream_* family moving
  * 1.41× AGAINST the box while the CPU sentinel and the codec kernels
  * both read the box as FASTER — the streaming walls are dominated by
  * trigger/commit/checkpoint I/O floors that no CPU-bound probe sees).
  *
  * One probe pass pays exactly the machinery every stream_* catalog
  * query pays regardless of data volume — a child session, file-source
  * schema read + listing, micro-batch trigger planning, a stateful
  * operator's per-partition state-store commits, checkpoint writes,
  * memory-sink teardown — over a TINY fixed input (64 rows, one file),
  * so its wall time measures the box's streaming I/O floor, never a
  * plan. Interleaved by Bench like the CPU sentinel: a streaming-family
  * wall-time shift with a flat CPU sentinel but a shifted stream floor
  * is box I/O drift, not a plan regression; flat floors on both probes
  * point back at the plans.
  */
object StreamFloor {

  /** Write the probe's fixed input once (64 longs, one parquet file);
    * returns the directory to stream from. Temp-dir-scoped: the probe
    * is a per-process sentinel, not a persisted fixture — the dir is
    * registered for exit-time reclamation (one leaked ~KB dir per bench
    * run otherwise accumulates in /tmp forever; the r19 ADVICE catch).
    */
  def writeInput(spark: SparkSession): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-streamfloor")
    val dir = root.resolve("in").toString
    import spark.implicits._
    (0L until 64L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    // exit-time-only reclamation (deliberately NOT the disk-sink purge
    // queue: that queue is drained by the NEXT disk-sink run's startup
    // purge, which would delete this probe input mid-bench under
    // SPARK_GRAFT_STREAM_SINK=disk)
    registerForExitPurge(root)
    dir
  }

  private val exitPurgeDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private lazy val exitPurgeHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = exitPurgeDirs.poll()
      while (p != null) {
        try graft.Harness.deleteRecursively(p)
        catch { case scala.util.control.NonFatal(_) => () }
        p = exitPurgeDirs.poll()
      }
    }, "graft-streamfloor-purge"))
    ()
  }

  private def registerForExitPurge(root: java.nio.file.Path): Unit = {
    exitPurgeHook
    exitPurgeDirs.add(root)
    ()
  }

  /** One probe pass (timed by the caller): a stateful exact dedup over
    * the fixed input through the full micro-batch harness. The result
    * is consumed and discarded — only the wall time matters.
    */
  def probe(spark: SparkSession, dir: String): Unit = {
    EventStream.runToMemory(spark, dir, "stream_sentinel_floor",
      _.dropDuplicates("id").select("id"), OutputMode.Append()).count()
    ()
  }
}
