package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{avg, col, sum}

/** What the mains (Bench, Verify, ScaleRun, StreamRestartRun,
  * BigFileRun, Cli, Explain, Smoke) share: the one session factory, the
  * timing and load-sentinel methods, the subset-filter parse, and the
  * artifact writers. Artifacts are hand-built JSON lines; [[str]] and
  * [[num]] are their only leaf encoders.
  */
object Harness {

  /** A malformed setting ends the run with exit 2, before any work. */
  def orExit[A](parsed: Either[String, A]): A =
    parsed.fold(msg => { System.err.println(msg); sys.exit(2) }, identity)

  /** Parse a positive-integer setting named `name`; `default` when unset. */
  def positiveInt(name: String, setting: Option[String], default: Int)
      : Either[String, Int] =
    setting match {
      case None => Right(default)
      case Some(s) => s.trim.toIntOption.filter(_ > 0)
        .toRight(s"$name must be a positive integer, got '$s'")
    }

  /** Local parallelism of every main: SPARK_GRAFT_CPUS, else the core count. */
  private def cpus(): Int = orExit(positiveInt("SPARK_GRAFT_CPUS",
    sys.env.get("SPARK_GRAFT_CPUS"), Runtime.getRuntime.availableProcessors))

  /** The session every main runs in: `local[cpus]` with as many shuffle
    * partitions, UTC, no UI, AQE on, log level WARN. `extraConf` is set
    * last (Smoke's SQL extensions, the tests' warehouse dir).
    */
  def session(appName: String, extraConf: (String, String)*): SparkSession =
    sessionAt(cpus(), appName, extraConf)

  private[graft] def sessionAt(
      cpus: Int, appName: String, extraConf: Seq[(String, String)]): SparkSession = {
    // a typo'd SPARK_GRAFT_STATE_BACKEND or sink mode must abort NOW, not
    // at the first streaming query mid-run (both resolve lazily)
    streaming.StateBackend.forceResolve()
    streaming.EventStream.forceResolveSink()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // backward compat: pre-2026-08 testdata shipped events.ts as
      // TIMESTAMP(NANOS), which Spark 4 rejects unless read as long; the
      // current TIMESTAMP(MICROS) layout is unaffected by this flag and
      // both are handled adaptively by graft.Events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = extraConf
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Parse a comma-separated subset filter (an env var or Explain's
    * positional names) against the `known` names. An empty list or an
    * unknown name is an error: a typo must never select zero entries and
    * pass vacuously.
    */
  def only(what: String, csv: String, known: collection.Set[String])
      : Either[String, Set[String]] = {
    val want = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = want.diff(known)
    if (want.isEmpty) Left(s"$what is set but names nothing: '$csv'")
    else if (unknown.nonEmpty) {
      val hint =
        if (known.size > 20) "" else s" (known: ${known.toSeq.sorted.mkString(",")})"
      Left(s"unknown $what entries: ${unknown.toSeq.sorted.mkString(",")}$hint")
    } else Right(want)
  }

  /** [[only]] over `envVar`: None when unset, exit 2 on a bad list. */
  def onlyFromEnv(envVar: String, known: collection.Set[String]): Option[Set[String]] =
    sys.env.get(envVar).map(csv => orExit(only(envVar, csv, known)))

  /** The failure marker of every timing and ratio: a failed run must
    * read as FAILURE, never as a too-fast-to-be-true time (NaN is not
    * portable JSON).
    */
  val Failed: Double = -1.0

  /** Wall seconds of one run of `fn`, or [[Failed]]. */
  def timed(fn: => Any): Double = {
    val t0 = System.nanoTime()
    try { fn; (System.nanoTime() - t0) / 1e9 }
    catch { case NonFatal(e) =>
      // e.toString, not getMessage: a plain NPE's message is null
      System.err.println(s"[harness] FAILED: ${e.toString.linesIterator.next()}")
      Failed
    }
  }

  /** Min wall seconds over up to `n` runs, each inside
    * [[operators.SessionCaches.scope]] so no scoped relation carries from
    * one run into the next (shared relations do: they are built once per
    * corpus by design). A failed run poisons the figure (the min with
    * [[Failed]] is [[Failed]]) and stops the attempts.
    */
  def minOf(n: Int)(fn: => Any): Double = {
    var best = Double.MaxValue
    var i = 0
    while (best >= 0 && i < n) {
      best = math.min(best, operators.SessionCaches.scope(timed(fn)))
      i += 1
    }
    best
  }

  /** One discarded run over `dir` of each query warming a code path whose
    * class loading and JIT would otherwise land on the first timed query
    * of its kind (scan, shuffle, window, UDF, CDC, the streaming state
    * stores and planner). Both cache scopes are then released, `dir`'s
    * shared entries included (cdc_estimate fills sf_chunks), so no timed
    * work moves out of the timed section. NonFatal only: an OOM must
    * abort, not go on to report bogus numbers.
    */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    for (w <- Seq("q01_pricing_summary", "q05_window_best", "dedup_exact",
        "stream_dedup", "stream_join", "cdc_estimate"))
      try SparkEntry.queries(w)(spark, dir).count()
      catch { case NonFatal(_) => () }
    operators.SessionCaches.release()
    operators.SessionCaches.release(dir)
    ()
  }

  /** The box-load sentinel: a dedicated ~0.2 s scan-agg over
    * `sfDir/lineitem.parquet`, deliberately NOT a catalog query (extra
    * interleaved runs would make that query's own time warmer than the
    * rest). It measures the box, not the code: `loadIndex` =
    * max/min sample. Construction primes it untimed until two
    * consecutive runs agree within 25% (at most 8 runs): C2 JIT ramps a
    * small scan-agg over several executions (measured 0.59 → 0.47 →
    * 0.20 s on an idle box), and an un-primed first sample would fake a
    * ~3× load index.
    */
  final class Sentinel(spark: SparkSession, sfDir: String) {
    val secs: ArrayBuffer[Double] = ArrayBuffer.empty

    private def run(): Double = timed {
      // collect(), not count(): count() would let Catalyst prune the
      // aggregate expressions and reduce the sentinel to a one-column
      // scan — the result is ≤ |l_linestatus| rows, so collect is free
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(col("l_linestatus"))
        .agg(sum(col("l_extendedprice")).as("sum_price"),
          avg(col("l_discount")).as("avg_disc"))
        .collect()
    }

    {
      var prev = Failed
      var stable = false
      var i = 0
      while (i < 8 && !stable) {
        val t = run()
        stable = t >= 0 && prev >= 0 && t <= prev * 1.25 && prev <= t * 1.25
        prev = t
        i += 1
      }
    }

    /** One sample, itself min-of-2: a one-off JIT/GC hiccup on a single
      * run would fake a load spike on an idle box, while a burst covering
      * both back-to-back runs is exactly the sustained load worth
      * flagging. Recorded unless both runs failed.
      */
    def sample(): Double = {
      val t = Seq(run(), run()).filter(_ >= 0).minOption.getOrElse(Failed)
      if (t >= 0) secs += t
      t
    }

    /** The best sample: the box's steady-state speed, or [[Failed]]. */
    def floor: Double = secs.filter(_ > 0).minOption.getOrElse(Failed)

    /** max/min sample, or [[Failed]] with fewer than two samples. */
    def loadIndex: Double =
      if (secs.size < 2 || secs.min <= 0) Failed else secs.max / secs.min
  }

  /** Post-GC used heap: two passes with a settling sleep (a single pass
    * often leaves reference-processing work pending and over-reads).
    */
  def gcUsedBytes(): Long = {
    System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    rt.totalMemory() - rt.freeMemory()
  }

  /** Persist a main's machine-readable JSON line at `path`, creating its
    * parent directories. Mains default `path` to somewhere UNTRACKED
    * under target/ so reruns can never clobber a committed copy —
    * publishing one is an explicit `cp`. NonFatal-safe (a malformed path
    * included): losing a computed run to an artifact-write hiccup is
    * never worth it.
    */
  def writeArtifact(path: String, line: String): Unit =
    try {
      val out = Paths.get(path)
      Option(out.getParent).foreach(p => { Files.createDirectories(p); () })
      Files.write(out, (line + "\n").getBytes(StandardCharsets.UTF_8))
      ()
    } catch { case NonFatal(e) =>
      System.err.println(s"artifact write failed (non-fatal): $e")
    }

  /** Write df as a SINGLE parquet file at dir/name: the chunkers and the
    * streaming file-name globs open plain files, not directory tables.
    */
  def writeSingleFile(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val listing = Files.list(Paths.get(tmp))
    val part =
      try listing.toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && p.contains("part-"))
      finally listing.close()
    require(part.length == 1, s"expected one part file, got ${part.toSeq}")
    Files.move(Paths.get(part.head), Paths.get(s"$dir/$name"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(Paths.get(tmp))
  }

  /** Delete `root` and everything under it; a no-op when it is absent.
    * Throws on the first failure — best-effort callers catch.
    */
  def deleteRecursively(root: java.nio.file.Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally s.close()
    }

  /** A JSON string literal: backslash, quote and ALL control characters
    * escaped — a tab or CR in a name or SQL text would otherwise make a
    * strict parser reject the whole artifact.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON number with `places` decimals, `.`-separated on every JVM
    * locale; a non-finite value is written as the -1 failure marker.
    */
  def num(d: Double, places: Int): String =
    if (d.isNaN || d.isInfinite) "-1"
    else s"%.${places}f".formatLocal(Locale.ROOT, d)
}
