package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface for the events table (the reference is
  * batch-only — SURVEY §2.8 — so this is the pipeline-extension layer):
  * watermarked windowed aggregation and stateful sessionization via
  * `flatMapGroupsWithState`.
  *
  * The events parquet has shipped `ts` as both epoch-nanos INT64 and
  * TIMESTAMP(MICROS) across testdata regenerations; `withEventTime`
  * adapts via [[graft.Events.eventTimeExpr]] so both layouts stream.
  */
object EventStream {

  /** Typed event row for the stateful paths. `ts` is EPOCH MICROSECONDS:
    * callers normalize the raw column first (e.g. with
    * [[graft.Events.microsExpr]]) — the typed encoder can't adapt to the
    * file's physical timestamp type the way the DataFrame paths do.
    */
  final case class EventRow(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(count: Long, sumValue: Double, lastTs: Long)

  final case class SessionOut(user_id: Long, n_events: Long, sum_value: Double,
      closed_at: Long)

  def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("event_time", graft.Events.eventTimeExpr(df))

  /** Tumbling-window counts/sums per event type with a watermark: the
    * canonical streaming aggregation (append-mode compatible).
    */
  def windowedCounts(
      events: DataFrame,
      window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("event_type"))
      // decimal-cast sum: deterministic under any row order (and therefore
      // comparable against a batch oracle engine)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Per-user sessionization: counts + value sums until an event-time gap
    * closes the session. Idle sessions are closed by an EVENT-time timeout
    * anchored to the watermark (timeout at lastTs + gap): a late event that
    * is within the event-time gap still extends its session instead of
    * double-counting against an already-emitted one (a processing-time
    * timeout would close sessions on wall-clock, divorced from event time).
    * The watermark delay doubles as the lateness bound.
    */
  def sessionize(
      events: Dataset[EventRow],
      gapMicros: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = math.max(1L, gapMicros / 1000L)
    // EventRow.ts is micros BY CONTRACT (see case-class doc), so event_time
    // is built directly — the schema-adaptive withEventTime would misread
    // this LongType column as legacy epoch-nanos
    val timed = events.toDF()
      .withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", s"$gapMs milliseconds")
      .as[EventRow] // event_time rides along for the watermark; rows decode the same
    timed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[EventRow], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap: no in-gap event can still arrive
            val out = state.getOption
              .filter(_.count > 0)
              .map(s => SessionOut(userId, s.count, s.sumValue, s.lastTs))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts, e.event_id))
            var cur = state.getOption.getOrElse(SessionState(0L, 0.0, Long.MinValue))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              if (cur.count > 0 && e.ts - cur.lastTs > gapMicros) {
                closed += SessionOut(userId, cur.count, cur.sumValue, cur.lastTs)
                cur = SessionState(0L, 0.0, Long.MinValue)
              }
              // max, not overwrite: a late-but-in-watermark event older than
              // lastTs must not regress the session clock (a regressed clock
              // would split spuriously on the next event and mis-stamp
              // closed_at); the gap check above compares against the true max
              cur = SessionState(cur.count + 1, cur.sumValue + e.value,
                math.max(cur.lastTs, e.ts))
            }
            state.update(cur)
            // close when event time (not wall clock) passes the gap
            state.setTimeoutTimestamp(cur.lastTs / 1000L + gapMs)
            closed.iterator
          }
        })
  }

  /** Tumbling-window value-DISTRIBUTION profile: the mergeable quantile
    * sketch ([[graft.functions.QuantileSketch]]) as the aggregation
    * function of a watermarked streaming group-by, so per-window
    * percentiles come out of bounded state instead of a sort. The
    * sketch's buffer rides the streaming state store across
    * micro-batches (partial buffers merge exactly like batch partial
    * aggregation — the property the 500-partial-fold spec pins), which
    * is what makes a percentile monitor viable on an unbounded stream:
    * state per window is capacity-bounded, not row-bounded. Catalog
    * capacity (4096) exceeds every hour-window at the correctness SFs
    * (max 175 rows at sf0.1), so results sit in the sketch's exact
    * window and the batch oracle is DuckDB `quantile_disc` per hour.
    */
  def windowedQuantiles(
      events: DataFrame,
      window_ : String = "1 hour",
      watermark: String = "2 hours",
      probes: Seq[Double] = Seq(0.25, 0.5, 0.9),
      capacity: Int = 4096): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_))
      .agg(count(lit(1)).as("n"),
        graft.functions.QuantileSketch.quantiles(col("value"), probes, capacity)
          .as("qs"))
      .select(Seq(col("window.start").as("window_start"), col("n")) ++
        probes.indices.map(i => col("qs")(i).as(s"q$i")): _*)

  /** Streaming exact dedup: emit each (user_id, event_type) key once, at
    * its first occurrence, via the state store. Deliberately NO watermark:
    * the dedup keys exclude event time, so a watermark would evict no
    * state anyway — it would only drop late rows silently, breaking the
    * "globally exact for any batch split" contract (a backfill file
    * arriving after newer data would lose its keys). State grows with the
    * distinct-key count, so this is the finite-backfill/bounded-keyspace
    * mode; see [[dedupKeysWithinWatermark]] for the unbounded-stream one.
    */
  def dedupKeys(stream: DataFrame): DataFrame =
    stream
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** Bounded-state variant for unbounded streams: duplicates are dropped
    * only within the watermark horizon (state for a key is evicted once
    * the watermark passes it), so a key CAN re-emit after the horizon —
    * the standard tradeoff for state that must not grow forever. Use
    * [[dedupKeys]] when global uniqueness matters and the keyspace is
    * bounded; use this when the stream is unbounded and duplicates are
    * known to arrive close together (e.g. at-least-once upstream
    * delivery).
    */
  def dedupKeysWithinWatermark(
      stream: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    withEventTime(stream)
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** STREAM-STREAM inner join — the attribution query ("purchase within
    * an hour of a click by the same user") as a watermarked self-join of
    * the event stream. Both sides carry a watermark and the join carries
    * a two-sided event-time range, which is exactly what lets Spark bound
    * the join state: a buffered click can be evicted once the purchase
    * watermark passes click_time + 1 h, and a buffered purchase once the
    * click watermark passes purchase_time. Without the time bounds the
    * state store would grow forever — the range predicate IS the memory
    * contract, not just the semantics.
    *
    * Output is append-mode matches (user_id, click_id, purchase_id) —
    * pure BIGINTs, so the batch oracle is the plain SQL self-join.
    */
  def attributionJoin(stream: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val clicks = withEventTime(stream)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", watermark)
    val purchases = withEventTime(stream)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("event_time").as("purchase_time"))
      .withWatermark("purchase_time", watermark)
    clicks
      .join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_time") >= col("click_time") &&
          col("purchase_time") <= col("click_time") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Run [[attributionJoin]] over a finite parquet input as a real
    * streaming query (two branches of one file source, stream-stream join
    * state store, append-mode memory sink).
    */
  def runAttributionOnce(spark: SparkSession, dir: String, queryName: String): DataFrame =
    runToMemory(spark, dir, queryName, attributionJoin(_), OutputMode.Append())

  /** Run [[dedupKeys]] over a finite parquet input as a real streaming
    * query (file source, state store, append-mode memory sink).
    */
  def runDedupOnce(spark: SparkSession, dir: String, queryName: String): DataFrame =
    runToMemory(spark, dir, queryName, dedupKeys(_), OutputMode.Append())

  /** Run [[windowedQuantiles]] over a finite parquet input as a real
    * streaming query (complete mode for the same finite-input reason as
    * [[runWindowedOnce]]).
    */
  def runQuantilesOnce(spark: SparkSession, dir: String, queryName: String): DataFrame =
    runToMemory(spark, dir, queryName, windowedQuantiles(_), OutputMode.Complete())

  /** Batch-driven smoke harness: run the windowed aggregation as a stream
    * over a parquet directory into a memory sink, synchronously — in
    * complete mode so bounded batches surface every window (append would
    * hold back windows the watermark never closes on a finite input).
    */
  def runWindowedOnce(spark: SparkSession, dir: String, queryName: String): DataFrame =
    runToMemory(spark, dir, queryName, windowedCounts(_), OutputMode.Complete())

  /** One run's state-store footprint: the run token plus (max rows, max
    * bytes across triggers). The token makes attribution exact per RUN,
    * not just per sink name — see [[lastStateMetricsHere]].
    */
  private[graft] final case class StateFootprint(
      runId: Long, rows: Long, bytes: Long)

  /** State-store footprint of the most recent [[runToMemory]] run, PER
    * memory-sink query name — read by ScaleRun right after timing a
    * streaming catalog query, so the tier tables can report state size
    * next to wall time (the bounded-state twins' claim IS that this
    * stays flat from 1× to 100×). A concurrent map keyed by the run's
    * sink name (unique per catalog query + corpus dir), so two harness
    * runs interleaving in one JVM never cross-attribute metrics — a
    * single global slot did (StreamStateMetricsSpec pins the
    * isolation). No entry when the run had no stateful operator.
    * Entries are pruned by [[clearThreadStateAttribution]], so the map
    * stays bounded to in-flight runs instead of accumulating one entry
    * per (query, corpus dir) for a long-lived embedding process.
    */
  private[graft] val stateMetrics =
    scala.collection.concurrent.TrieMap.empty[String, StateFootprint]

  /** Monotonic run token: attribution is (sink name, run id), never the
    * name alone. On a pooled/reused thread whose harness never cleared
    * its attribution, a NEWER run of the same sink name elsewhere would
    * otherwise read as the stale thread's own.
    */
  private val runIds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** (sink name, run id) of the most recent [[runToMemory]] started on
    * the CURRENT thread — callers like ScaleRun don't know the
    * catalog's per-query sink naming scheme, but they DO own the thread
    * their timed query ran on, so this plus [[stateMetrics]] yields
    * exactly their own run's key. Cleared by
    * [[clearThreadStateAttribution]] so a following non-streaming query
    * can't inherit a stale name.
    */
  private val lastRunOnThread = new ThreadLocal[(String, Long)]

  /** The current thread's own last streaming run's state footprint —
    * None if the thread hasn't started one since the last
    * [[clearThreadStateAttribution]], if that run was stateless, or if
    * a newer run took over the sink name (the run-token mismatch: a
    * stale thread must read None, never another run's numbers).
    */
  private[graft] def lastStateMetricsHere: Option[(Long, Long)] =
    Option(lastRunOnThread.get).flatMap { case (name, id) =>
      stateMetrics.get(name).collect {
        case StateFootprint(`id`, rows, bytes) => (rows, bytes)
      }
    }

  /** Forget the current thread's sink attribution — harness loops call
    * this before timing each catalog query, so a batch query that
    * follows a streaming one never reads the earlier run's metrics.
    * Also prunes the consumed map entry (only when it is still this
    * thread's own run — a newer run of the same sink name owns it
    * otherwise), keeping [[stateMetrics]] bounded to in-flight runs.
    */
  private[graft] def clearThreadStateAttribution(): Unit = {
    Option(lastRunOnThread.get).foreach { case (name, id) =>
      stateMetrics.get(name) match {
        case Some(fp) if fp.runId == id => stateMetrics.remove(name); ()
        case _ => ()
      }
    }
    lastRunOnThread.remove()
  }

  /** Harness sink selector: `SPARK_GRAFT_STREAM_SINK=disk` flips
    * [[runToMemory]] from the memory sink to a foreachBatch → parquet
    * sink read back as the result (the production sink shape). The
    * memory sink COLLECTS TO THE DRIVER, so a complete-mode snapshot is
    * corpus-sized in driver heap — fine at catalog SF, a measured
    * ceiling at the 1000× tier (stream_cdc's 46.6M-row merged relation
    * is ~5 GiB of sink rows; the tier sweep's timed attempts all failed
    * on it while the SAME query's operator state rode RocksDB at a
    * +5 MiB heap delta). The disk sink bounds the driver at one batch's
    * write tasks regardless of result cardinality; results are
    * spec-pinned identical in both modes (StreamSinkModeSpec). An
    * unknown value fails at first resolution — harness mains force this
    * via [[forceResolveSink]] so a typo aborts at startup.
    */
  private[graft] lazy val diskSinkDefault: Boolean =
    sys.env.get("SPARK_GRAFT_STREAM_SINK") match {
      case None | Some("memory") => false
      case Some("disk") => true
      case Some(other) => throw new IllegalArgumentException(
        s"SPARK_GRAFT_STREAM_SINK must be 'memory' or 'disk', got '$other'")
    }

  /** Force sink-mode env resolution NOW (see [[diskSinkDefault]]);
    * called by harness mains next to [[StateBackend.forceResolve]].
    */
  def forceResolveSink(): Unit = { diskSinkDefault; () }

  /** Disk-sink dirs whose runs have FINISHED — purgeable. At the 1000×
    * tier one complete-mode result is GiB-scale parquet, and a min-of-3
    * interleaved sweep would otherwise leak tens of GiB of /tmp per
    * query (the restart harness deletes its own work dirs; this runner
    * must too). A finished dir is reclaimed when the NEXT disk-sink run
    * starts and at JVM exit — so the harness contract is: CONSUME the
    * returned DataFrame (it reads the dir lazily — count/collect/write)
    * before starting the next disk-sink run, which every in-repo caller
    * does inline. Holding a disk-sink-backed plan across a later
    * disk-sink run reads a deleted directory (FileNotFoundException) —
    * a deliberate trade: the alternative, purging on plan release, has
    * no reliable hook in the JVM, and unreclaimed GiB-scale dirs are
    * the worse failure at the tiers this mode exists for.
    */
  private[streaming] val finishedDiskSinks =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** Delete every finished disk-sink dir (see [[finishedDiskSinks]]);
    * NonFatal-safe per dir — reclamation must never fail a run.
    */
  private[graft] def purgeDiskSinks(): Unit = {
    var p = finishedDiskSinks.poll()
    while (p != null) {
      try graft.Harness.deleteRecursively(p)
      catch { case scala.util.control.NonFatal(_) => () }
      p = finishedDiskSinks.poll()
    }
  }

  // best-effort /tmp hygiene for the LAST run's dir (every earlier one
  // is purged by its successor's startup purge)
  private lazy val diskSinkShutdownHook: Unit = {
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => purgeDiskSinks(), "graft-disksink-purge"))
    ()
  }

  /** Shared finite-input streaming harness: parquet file source →
    * transform → memory sink (or a foreachBatch parquet sink read back,
    * see [[diskSinkDefault]]), drained with processAllAvailable. The
    * memory sink is harness-only (it collects to the driver); production
    * sinks are kafka/parquet/delta-style writeStream targets.
    */
  private[streaming] def runToMemory(
      spark: SparkSession,
      dir: String,
      queryName: String,
      transform: DataFrame => DataFrame,
      mode: OutputMode,
      shufflePartitions: Int = 8,
      stateProvider: Option[String] = StateBackend.providerClass,
      diskSink: Boolean = diskSinkDefault): DataFrame = {
    // stateful operators pay a per-(partition, state store) commit on
    // every micro-batch — a stream-stream join keeps FOUR stores per
    // partition — so the harness narrows the stateful shuffle width for
    // these bounded inputs (the partition count is baked into the state
    // checkpoint, which is per-query here). The override lives in a CHILD
    // session (shared SparkContext, isolated SQLConf/temp views): batch
    // queries running concurrently in the caller's session keep their
    // width — no session-global mutation, no restore to race.
    val session = spark.newSession()
    // without this a new session gets its own artifact class loader, and
    // every run recompiles, reloads and re-JITs each generated class (the
    // codegen cache keys on the loader). The session reads the key once,
    // on its first artifact access, so it is set before anything else.
    session.conf.set("spark.sql.artifact.isolation.enabled", "false")
    session.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    // a re-run of the same sink name must never expose the previous
    // run's footprint if this one turns out stateless or fails
    val runId = runIds.incrementAndGet()
    stateMetrics.remove(queryName)
    lastRunOnThread.set((queryName, runId))
    // opt-in state-store backend override (SPARK_GRAFT_STATE_BACKEND,
    // or the spec-injected param): session-scoped, so concurrent batch
    // work in the caller's session is untouched — see [[StateBackend]]
    stateProvider.foreach(cls =>
      session.conf.set("spark.sql.streaming.stateStore.providerClass", cls))
    // local checkpoint files without Hadoop's per-file shell-outs
    LocalCheckpointFileManager.use(session)
    val schema = session.read.parquet(dir).schema
    // file-source streams need a directory; a single-file input becomes
    // parent-dir + glob filter
    val (baseDir, glob) =
      if (dir.endsWith(".parquet")) {
        val p = java.nio.file.Paths.get(dir)
        (p.getParent.toString, Some(p.getFileName.toString))
      } else (dir, None)
    var reader = session.readStream.schema(schema)
    glob.foreach(g => reader = reader.option("pathGlobFilter", g))
    val stream = reader.parquet(baseDir)
    val transformed = transform(stream)
    // disk sink: complete mode overwrites per trigger (final = last
    // complete snapshot, exactly the memory sink's table), append mode
    // accumulates — same contract, driver bounded at one batch's write
    // tasks instead of the whole result set
    val sinkDir: Option[String] =
      if (!diskSink) None
      else {
        // reclaim every FINISHED predecessor first (their results are
        // consumed by now under the harness contract), and arm the
        // exit-time purge for this run's own dir
        purgeDiskSinks()
        diskSinkShutdownHook
        Some(java.nio.file.Files
          .createTempDirectory(s"graft-disksink").resolve("out").toString)
      }
    val isComplete = mode == OutputMode.Complete()
    val writer = sinkDir match {
      case None =>
        transformed.writeStream
          .outputMode(mode)
          .format("memory")
          .queryName(queryName)
      case Some(out) =>
        transformed.writeStream
          .outputMode(mode)
          .queryName(queryName)
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode(if (isComplete) "overwrite" else "append")
              .parquet(out)
          }
    }
    val q = writer.start()
    try {
      q.processAllAvailable()
      // surface the run's state-store footprint (max across triggers)
      // for the scale harness: the fixed-state streaming twins' whole
      // claim is that these numbers do NOT grow with the corpus
      val ops = q.recentProgress.flatMap(_.stateOperators)
      if (ops.nonEmpty)
        stateMetrics(queryName) = StateFootprint(runId,
          ops.map(_.numRowsTotal).max, ops.map(_.memoryUsedBytes).max)
    } finally {
      q.stop()
      // the dir becomes reclaimable whether the run SUCCEEDED or THREW:
      // a failed attempt's partial GiB-scale parquet must not be
      // invisible to the purge (a min-of-3 sweep with failing attempts
      // would otherwise leak one dir per attempt past JVM exit) —
      // registering in the finally covers both paths, and on success
      // precedes the read-back exactly as before
      sinkDir.foreach(out => finishedDiskSinks.add(
        java.nio.file.Paths.get(out).getParent))
      // drop the manager's lastTerminatedQuery reference: it pins the
      // stopped query and through it the memory sink's collected rows —
      // for a complete-mode run over a large corpus that is the whole
      // result set held twice (sink + consumer), visible as hundreds of
      // stale MiB in the scale harness's heap readings. The returned
      // table below still owns the sink data through its plan.
      session.streams.resetTerminated()
    }
    sinkDir match {
      case None =>
        // the memory sink registers its temp view in the child session;
        // the child dies with its references, so no cross-run
        // dropTempView needed
        session.table(queryName)
      case Some(out) =>
        // an input with rows always fired at least one batch; the empty-
        // input edge (no batch, no sink dir) still returns the right
        // schema instead of a read error
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(out)))
          session.read.parquet(out)
        else
          session.createDataFrame(
            session.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            transformed.schema)
    }
  }
}
