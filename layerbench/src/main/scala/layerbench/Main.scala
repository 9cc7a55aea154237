package layerbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark process: one Spark driver at local[nproc] with graft's
  * default settings, one workload, one closed-loop client.
  *
  *   Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR [--tiny]
  *
  * Prints every metric by name with its unit, then one JSON result line.
  * Exits 1 when any operation failed or a result check did not hold.
  */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 3
  /** Each set-up ends with warm-up operations for at least this long, so
    * JIT compilation and codegen have settled before the timed loop.
    */
  val WarmupSeconds = 4.0
  val MinOps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, tiny: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = mutable.Map.empty[String, String]
    var tiny = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--tiny" => tiny = true; i += 1
        case k if k.startsWith("--") && i + 1 < args.length => m(k.drop(2)) = args(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument '$other'")
      }
    }
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got '$t'")
      },
      Paths.get(need("work")).toAbsolutePath, tiny)
  }

  private def procStatus(key: String): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith(key + ":"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0) // kB -> MiB
  }
  private def loadAvg(): String = scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").take(3).mkString(" ")
  private def memTotalMiB(): Double =
    scala.io.Source.fromFile("/proc/meminfo").getLines().find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def startSession(nproc: Int, tmp: Path, traced: Boolean): SparkSession = {
    var b = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("layerbench")
      // the settings graft's own CLI session uses
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep Spark's scratch files inside the benchmark's work directory
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
    if (traced) b = b
      .config("spark.sql.queryExecutionListeners", classOf[PlanningListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (traced) s.sparkContext.addSparkListener(new TaskListener)
    s
  }

  final class Loop {
    val wall = mutable.ArrayBuffer.empty[Double]
    /** process CPU seconds spent during each operation */
    val cpu = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
  }

  /** One checked operation; a thrown exception or failed check counts as failed. */
  private def runOp(wl: Workload, ctx: Ctx, opId: Int, loop: Loop): Option[(Double, Span)] = {
    wl.beforeOp(ctx)
    loop.attempted += 1
    val c0 = cpuSeconds()
    val t0 = System.nanoTime()
    try {
      val (_, span) =
        if (Trace.enabled) Trace.timed("bench:op", opId)(wl.op(ctx, opId))
        else (wl.op(ctx, opId), null)
      val s = (System.nanoTime() - t0) / 1e9
      loop.wall += s
      loop.cpu += cpuSeconds() - c0
      System.err.println(f"layerbench: ${wl.name} op $opId ok in $s%.3f s")
      Some((s, span))
    } catch {
      case e: Exception =>
        loop.failed += 1
        loop.failures += s"op $opId: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"layerbench: ${wl.name} ${loop.failures.last}")
        None
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val graftEnv = sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")).toSeq.sorted
    if (graftEnv.nonEmpty) {
      System.err.println(s"layerbench: refusing to run with graft overrides set: ${graftEnv.mkString(", ")}")
      sys.exit(2)
    }
    val nproc = Runtime.getRuntime.availableProcessors()
    val loadStart = loadAvg()
    val tmp = o.work.resolve("tmp")
    Workload.deleteTree(o.work)
    Files.createDirectories(tmp)
    Trace.enabled = o.trace

    // set-up, repeated: session start, input generation and writing, warm-up
    val wl = Workload(o.workload, o.tiny)
    val loop = new Loop
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    for (rep <- 1 to SetupReps) {
      if (spark != null) { wl.release(); spark.stop() }
      val t0 = System.nanoTime()
      spark = startSession(nproc, tmp, o.trace)
      ctx = Ctx(spark, nproc, o.seed)
      val dir = o.work.resolve(s"setup$rep")
      wl.setup(ctx, dir)
      val t1 = System.nanoTime()
      wl.references(ctx)
      val t2 = System.nanoTime()
      val tw = System.nanoTime()
      var k = 0
      while (k == 0 || (!o.tiny && (System.nanoTime() - tw) / 1e9 < WarmupSeconds)) {
        runOp(wl, ctx, -100 * rep - k, loop)
        k += 1
      }
      setupS += ((t1 - t0) + (System.nanoTime() - t2)) / 1e9
      System.err.println(f"layerbench: set-up $rep: inputs ${(t1 - t0) / 1e9}%.3f s, " +
        f"references ${(t2 - t1) / 1e9}%.3f s, total ${setupS.last}%.3f s")
      if (rep > 1) Workload.deleteTree(o.work.resolve(s"setup${rep - 1}"))
    }
    loop.wall.clear()
    loop.cpu.clear()

    // closed loop, one client; a traced run alternates untraced and traced ops
    val perOp = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val untracedWall, tracedWall = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var opId = 0
    while (opId < MinOps || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val traced = o.trace && opId % 2 == 1
      Trace.enabled = traced
      runOp(wl, ctx, opId, loop).foreach { case (s, span) =>
        if (traced) {
          tracedWall += s
          Trace.drain(spark)
          val spans = Trace.allSpans.filter(_.op == opId)
          val m = Metrics.spark(Trace.aggUnder(span), s, nproc) ++ wl.opMetrics(ctx, span, spans) +
            ("spark.process_cpu_s" -> loop.cpu.last)
          m.foreach { case (k, v) => perOp.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
        } else untracedWall += s
      }
      opId += 1
    }
    val peakRss = procStatus("VmHWM")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!o.trace) {
      val p50 = Metrics.median(loop.wall.toSeq)
      metrics("op_s_p50") = (p50, "s")
      metrics("input_mib_s") = (wl.inputBytes / Metrics.MiB / p50, "MiB/s")
      metrics("setup_s") = (Metrics.median(setupS.toSeq), "s")
    } else {
      Trace.enabled = true
      perOp.toSeq.sortBy(_._1).foreach { case (k, vs) => metrics(k) = (Metrics.median(vs.toSeq), Units.of(k)) }
      metrics("spark.peak_rss_mib") = (peakRss, "MiB")
      metrics("trace.overhead_ratio") =
        (Metrics.median(tracedWall.toSeq) / Metrics.median(untracedWall.toSeq), "ratio")
      val probes = layerProbes(wl, ctx, o, loop)
      probes.toSeq.sortBy(_._1).foreach { case (k, v) => metrics(k) = (v, Units.of(k)) }
      Trace.writeSpans(o.work.resolve(s"spans-${o.workload}-${o.seed}.json"))
      val self = Trace.selfSeconds(Trace.allSpans.filter(_.op >= 0))
      println(s"self time per operation, by layer (${tracedWall.size} traced ops):")
      self.toSeq.sortBy(-_._2).foreach { case (layer, s) =>
        println(f"  $layer%-28s ${s / math.max(1, tracedWall.size)}%.4f s")
      }
    }
    spark.stop()

    val correct = loop.failed == 0
    val box = Seq(
      "workload" -> o.workload, "seed" -> o.seed.toString, "trace" -> (if (o.trace) "1" else "0"),
      "nproc" -> nproc.toString, "mem_total_mib" -> f"${memTotalMiB()}%.0f",
      "load_start" -> loadStart, "load_end" -> loadAvg(),
      "java" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION,
      "driver_heap_mib" -> f"${Runtime.getRuntime.maxMemory / Metrics.MiB}%.0f",
      "input_mib" -> f"${wl.inputBytes / Metrics.MiB}%.3f",
      // reported here rather than as bounded metrics: across seeds they
      // spread by up to or beyond the largest bound allowed (G1 grows the
      // heap toward -Xmx8g at timing-dependent points); the traced run
      // reports both, as spark.peak_rss_mib and spark.process_cpu_s
      "peak_rss_mib" -> f"$peakRss%.1f",
      "cpu_s_per_op" -> f"${Metrics.median(loop.cpu.toSeq)}%.4f")
    println("box " + box.map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(s"ops ${loop.attempted} attempted, ${loop.failed} failed, ${opId} in the timed loop, " +
      s"op_fail_ratio ${loop.failed.toDouble / math.max(1, loop.attempted)} ratio")
    loop.failures.foreach(f => println(s"FAILED $f"))
    metrics.foreach { case (k, (v, u)) => println(f"metric $k%-40s $v%.6f $u") }
    val json = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    val result = s"""{"correct": $correct, "attempted": ${loop.attempted}, "failed": ${loop.failed}, "metrics": {$json}}"""
    Files.write(o.work.resolve("result.json"),
      (s"""{"box": {${box.map { case (k, v) => s""""$k": "$v"""" }.mkString(", ")}}, "result": $result}""" + "\n")
        .getBytes("UTF-8"))
    println(result)
    sys.exit(if (correct) 0 else 1)
  }

  /** Per-layer metrics no operation of this workload produces: probes over
    * the workload's own data, and one tiny-size operation of the workload
    * that owns each remaining layer.
    */
  private def layerProbes(wl: Workload, ctx: Ctx, o: Opts, loop: Loop): Map[String, Double] = {
    val d = wl.probeData(ctx)
    val m = mutable.Map.empty[String, Double]
    m ++= Probes.kernels(d.kernelBytes, d.kernelParams)
    m ++= Probes.plans(d)
    m ++= Probes.chunkStage(ctx, d)
    m ++= Probes.estimator(ctx, d)
    m ++= Probes.writers(ctx, d, o.work.resolve("probe-writers"))
    val owners = Seq("text_curate", "stream_cdc", "synthetic_grid")
    owners.filter(_ != wl.name).zipWithIndex.foreach { case (owner, i) =>
      val sub = Workload(owner, tiny = true)
      sub.setup(ctx, o.work.resolve(s"probe-$owner"))
      sub.references(ctx)
      val id = -10 - i
      runOp(sub, ctx, id, loop).foreach { case (_, span) =>
        Trace.drain(ctx.spark)
        m ++= sub.opMetrics(ctx, span, Trace.allSpans.filter(_.op == id))
      }
      sub.release()
    }
    m.toMap
  }
}

object Units {
  def of(metric: String): String = metric match {
    case m if m.endsWith("_mib_s") => "MiB/s"
    case m if m.endsWith("_mib") => "MiB"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_s") || m.endsWith(".s") => "s"
    case m if m.endsWith("_ratio") || m.endsWith("_skew") || m.endsWith("_recall") => "ratio"
    case m if m.endsWith("_bytes") => "B"
    case _ => "count"
  }
}

object Json {
  /** A number as measured, with all its digits; JSON has no NaN or infinity. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
