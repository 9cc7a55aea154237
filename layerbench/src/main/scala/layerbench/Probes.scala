package layerbench

import java.nio.file.Path
import org.apache.spark.sql.functions.col
import graft.cdc.{Chunker, ChunkerParams, Lz4Len, XXH64}
import graft.operators.{ChunkRelation, Estimator}
import graft.plans.CdcChunks
import graft.sources.TableFormat

object Metrics {
  val MiB: Double = 1024.0 * 1024.0

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Total seconds of the spans whose name starts with `prefix`. */
  def spanSeconds(spans: Seq[Span], prefix: String): Double =
    spans.filter(_.name.startsWith(prefix)).map(_.seconds).sum

  /** Engine metrics of one operation from the task totals under its span. */
  def spark(a: TaskAgg, wallS: Double, nproc: Int): Map[String, Double] = Map(
    "spark.jobs" -> a.jobs.toDouble,
    "spark.stages" -> a.stages.toDouble,
    "spark.tasks" -> a.tasks.toDouble,
    "spark.planning_s" -> a.planningMs / 1000.0,
    "spark.task_run_s" -> a.runMs / 1000.0,
    "spark.task_cpu_s" -> a.cpuNs / 1e9,
    "spark.gc_s" -> a.gcMs / 1000.0,
    "spark.shuffle_read_mib" -> a.shuffleReadBytes / MiB,
    "spark.shuffle_write_mib" -> a.shuffleWriteBytes / MiB,
    "spark.spill_mib" -> a.spillBytes / MiB,
    "spark.core_busy_ratio" -> a.runMs / 1000.0 / (wallS * nproc))
}

/** Layer probes of a traced run: each times or counts one public graft call
  * over the workload's own data.
  */
object Probes {
  private def timeRepeated(minSeconds: Double)(body: => Long): (Double, Int, Long) = {
    var reps = 0
    var sink = 0L
    val t0 = System.nanoTime()
    while (reps == 0 || (System.nanoTime() - t0) / 1e9 < minSeconds) { sink ^= body; reps += 1 }
    ((System.nanoTime() - t0) / 1e9, reps, sink)
  }

  /** `cdc`: single-thread gear scan, XXH64 and LZ4 length over the bytes. */
  def kernels(bytes: Array[Byte], params: ChunkerParams): Map[String, Double] = {
    val mib = bytes.length / Metrics.MiB
    val bounds = Chunker.boundaries(bytes, params)
    val (gearS, gearN, _) = Trace.span("cdc:Chunker.boundaries") {
      timeRepeated(0.3)(Chunker.boundaries(bytes, params).size.toLong)
    }
    val (xxS, xxN, _) = Trace.span("cdc:XXH64.hash") {
      timeRepeated(0.3) {
        var h = 0L
        bounds.foreach { case (off, len) => h ^= XXH64.hash(bytes, off, len, XXH64.DefaultSeed) }
        h
      }
    }
    val (lzS, lzN, _) = Trace.span("cdc:Lz4Len") {
      timeRepeated(0.3) {
        var n = 0L
        bounds.foreach { case (off, len) => n += Lz4Len(bytes, off, len) }
        n
      }
    }
    Map(
      "cdc.gear_scan_mib_s" -> mib * gearN / gearS,
      "cdc.xxh64_mib_s" -> mib * xxN / xxS,
      "cdc.lz4_len_mib_s" -> mib * lzN / lzS,
      "cdc.chunks" -> bounds.size.toDouble,
      "cdc.mean_chunk_bytes" -> bytes.length.toDouble / math.max(1, bounds.size))
  }

  /** `plans`: the batch `cdc_chunks(content, 16, 256, 5)` generator plus a count. */
  def plans(d: ProbeData): Map[String, Double] = {
    val (rows, span) = Trace.timed("plans:CdcChunks.cdc_chunks") {
      d.binary.select(CdcChunks.cdc_chunks(col("content"), 16, 256, 5)).count()
    }
    Map("plans.cdc_chunks_s" -> span.seconds, "plans.cdc_chunks_rows" -> rows.toDouble)
  }

  /** `operators.chunk`: the narrow chunk stage, materialized without a shuffle. */
  def chunkStage(ctx: Ctx, d: ProbeData): Map[String, Double] = {
    val (_, span) = Trace.timed("operators.chunk:ChunkRelation.chunkFilesAuto") {
      ChunkRelation.chunkFilesAuto(ctx.spark, d.files).count()
    }
    Trace.drain(ctx.spark)
    val a = Trace.aggUnder(span)
    // the chunk stage is the stage with the most task time
    val (stage, taskMs) = a.stageTaskMs.maxBy(_._2.sum)
    val sorted = taskMs.sorted
    Map(
      "operators.chunk.stage_s" -> span.seconds,
      "operators.chunk.tasks" -> taskMs.size.toDouble,
      "operators.chunk.task_skew" -> sorted.last.toDouble / math.max(1.0, Metrics.median(sorted.map(_.toDouble).toSeq)),
      "operators.chunk.task_cpu_s" -> a.stageCpuNs.getOrElse(stage, 0L) / 1e9)
  }

  /** `operators.estimator`: stats plus uniqueBytes over a materialized chunk relation. */
  def estimator(ctx: Ctx, d: ProbeData): Map[String, Double] = {
    val chunks = ChunkRelation.chunkFilesAuto(ctx.spark, d.files).cache()
    Trace.span("bench:materialize")(chunks.count())
    val (_, span) = Trace.timed("operators.estimator:Estimator.stats+uniqueBytes") {
      Estimator.stats(chunks)
      Estimator.uniqueBytes(chunks)
    }
    chunks.unpersist()
    Trace.drain(ctx.spark)
    val a = Trace.aggUnder(span)
    Map(
      "operators.estimator.agg_s" -> span.seconds,
      "operators.estimator.shuffle_write_mib" -> a.shuffleWriteBytes / Metrics.MiB,
      "operators.estimator.shuffle_records" -> a.shuffleWriteRecords.toDouble,
      "operators.estimator.reduce_tasks" -> a.reduceTasks.toDouble)
  }

  /** `sources`: the workload's table written once in every default-grid format. */
  def writers(ctx: Ctx, d: ProbeData, dir: Path): Map[String, Double] = {
    val (paths, span) = Trace.timed("sources:TableFormat.write") {
      TableFormat.defaultGrid(withJson = true).flatMap(_.write(d.table, dir, "probe", "table"))
    }
    Trace.drain(ctx.spark)
    val bytes = Workload.fileBytes(paths)
    Map(
      "sources.write_s" -> span.seconds,
      "sources.write_mib_s" -> bytes / Metrics.MiB / span.seconds,
      "sources.write_tasks" -> Trace.aggUnder(span).tasks.toDouble)
  }
}
