package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness
import graft.Harness.num

/** Checkpoint-restart validation at scale for the stateful streaming
  * twins — the production property the fixture-scale restart specs
  * (StreamCdcRestartSpec, StreamDedupRestartSpec) prove only at toy size:
  * a stopped query RESUMES from its state store over new files and lands
  * on exactly the batch answer, in time proportional to the DELTA (state
  * reload + one small batch), not to the already-ingested corpus.
  *
  * Per query (stream_cdc over documents, stream_dedup over events,
  * stream_dedup_spans and stream_dedup_lines over documents — the line
  * twin reflowed through the catalog's pageTransform), per tier (1× =
  * sf0.1 testdata, N× = the ScaleRun corpus):
  *
  *  1. initial run: file stream over the corpus → stateful operator →
  *     foreachBatch parquet snapshot, with a checkpoint; timed.
  *  2. a small delta file lands (re-uploads + genuinely new rows).
  *  3. RESTART from the same checkpoint; timed. This pays state-store
  *     reload + the delta batch only.
  *
  * Asserted invariants (violations exit nonzero, the ScaleRun FAILED
  * discipline):
  *  - snapshot after restart == the batch twin over ALL input files
  *    (corpus + delta) — restarts are invisible in the answer;
  *  - state rows == the batch-computed distinct key count (chunk hashes /
  *    (user_id, event_type) pairs) — state is EXACTLY keys, nothing
  *    re-buffered, so state bytes scale with distinct keys, not events;
  *    EXCEPT the spans twin, whose suppression-cache contract is the
  *    opposite: state rows ≤ its shard count no matter the corpus, with
  *    bytes capped at shards × cap × 32 B (saturation exercised at N×);
  *  - N× restart time < half the N× initial run — recovery reloads state
  *    and chews the delta; it must not re-chunk half a terabyte.
  *
  * Usage: runMain graft.tools.StreamRestartRun [factor] [corpusDir]
  * (corpus from ScaleRun; SPARK_GRAFT_SCALE_REUSE semantics — the run
  * refuses to start without the corpus rather than silently rebuilding).
  */
object StreamRestartRun {

  private case class CaseResult(
      tInitial: Double,
      tRestart: Double,
      stateRows: Long,
      stateBytes: Long,
      heapMb: Long,
      distinctKeys: Long,
      sinkRows: Long,
      occurrencesIn: Long)

  private def maxStateMetrics(
      q: org.apache.spark.sql.streaming.StreamingQuery): (Long, Long) = {
    val ops = q.recentProgress.flatMap(_.stateOperators)
    if (ops.isEmpty) (0L, 0L)
    else (ops.map(_.numRowsTotal).max, ops.map(_.memoryUsedBytes).max)
  }

  /** One checkpoint-restart cycle: initial run over `srcFiles`, then
    * `delta` lands, then a restarted run from the same checkpoint.
    * `transform` is the stateful streaming relation; `mode`/`writeBatch`
    * snapshot it (complete-overwrite for aggs, append for dedup).
    *
    * `foldSink` post-processes the accumulated sink before the batch
    * compare (identity for one-event-per-key streams; the spans twin
    * min-folds its re-emitted events). `stateRowsBound`: when set, state
    * rows are asserted ≤ the bound instead of == distinct keys — the
    * contract for suppression-cache state (rows bounded by SHARDS, not
    * keys; see [[graft.streaming.StreamSpans]]).
    */
  private def runCase(
      spark: SparkSession,
      tag: String,
      srcFiles: Seq[String],
      delta: DataFrame => DataFrame,
      transform: DataFrame => DataFrame,
      completeMode: Boolean,
      batchKeys: Seq[String] => DataFrame,
      foldSink: DataFrame => DataFrame = identity,
      stateRowsBound: Option[Long] = None,
      occurrencesIn: Seq[String] => Long = _ => 0L): CaseResult = {
    val work = Files.createTempDirectory(s"restart-$tag")
    val srcDir = Files.createDirectory(work.resolve("src"))
    val ckpt = work.resolve("ckpt").toString
    val sink = work.resolve("sink").toString
    srcFiles.zipWithIndex.foreach { case (f, i) =>
      // hardlink, not copy: the 100x corpus file is hundreds of MB and
      // the staging dir lives on the same filesystem
      Files.createLink(srcDir.resolve(s"b$i.parquet"), Paths.get(f))
    }

    // per-case heap BASELINE (Harness.gcUsedBytes — two GC passes with a
    // settling sleep), taken with every state provider
    // unloaded: the per-run readings below are DELTAS over this, so a
    // previous case's leftovers and the session's resident caches never
    // smear into the hdfs-vs-rocksdb contrast the way an absolute
    // single-GC reading did
    org.apache.spark.sql.GraftBridge.unloadStateStores()
    val heapBase = Harness.gcUsedBytes()

    def runOnce(): Double = {
      // start COLD: drop every loaded state provider first. Without
      // this, (a) the restart run would find the initial run's
      // providers still loaded (same checkpoint → same provider ids)
      // and skip the state reload it claims to measure, and (b) a
      // previous CASE's providers (fresh checkpoint each, so never
      // reused) would sit in heap until the ~60 s maintenance cadence
      // and smear into this case's heap reading
      org.apache.spark.sql.GraftBridge.unloadStateStores()
      val schema = spark.read.parquet(srcDir.toString).schema
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      val q = transform(stream).writeStream
        .outputMode(if (completeMode) "complete" else "append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode(if (completeMode) "overwrite" else "append")
            .parquet(sink)
        }
        .start()
      val t0 = System.nanoTime()
      try {
        q.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        lastState = maxStateMetrics(q)
        // post-GC used-heap DELTA over the case baseline, read BEFORE
        // q.stop() while the run's state provider is still loaded: under
        // the default hdfs backend every state row is on-heap here;
        // under rocksdb the same state lives off-heap/on-disk and this
        // delta stays near zero — the per-case heap evidence for the
        // SPARK_GRAFT_STATE_BACKEND flag
        lastHeapMb =
          math.max(0L, Harness.gcUsedBytes() - heapBase) / (1024 * 1024)
        secs
      } finally q.stop()
    }

    val tInitial = runOnce()
    val heapInitial = lastHeapMb
    // the delta lands while the monitor is down: some re-uploads (state
    // keys already present), some genuinely new rows
    Harness.writeSingleFile(delta(spark.read.parquet(srcDir.toString)),
      work.toString, "delta.parquet")
    Files.createLink(srcDir.resolve("b_delta.parquet"),
      work.resolve("delta.parquet"))
    val tRestart = runOnce()
    val (stateRows, stateBytes) = lastState
    // the bigger of the two runs' readings: the initial run builds the
    // state, the restart reloads it — either can carry the peak
    val heapMb = math.max(heapInitial, lastHeapMb)

    // correctness: the snapshot equals the batch twin over ALL files
    val keysDf = batchKeys(Seq(srcDir.toString))
    val distinctKeys = keysDf.count()
    val sunk = spark.read.parquet(sink)
    // raw event volume BEFORE the fold: for suppression-cache streams
    // this is the re-emission traffic the saturated regime trades state
    // growth for (reported next to the unsaturated row)
    val sinkRows = sunk.count()
    val occIn = occurrencesIn(Seq(srcDir.toString))
    val sunkKeys =
      foldSink(if (completeMode) sunk else sunk.distinct())
    val diff = sunkKeys.count() != distinctKeys ||
      sunkKeys.exceptAll(keysDf).limit(1).count() != 0
    require(!diff, s"[$tag] restart snapshot diverges from the batch twin")
    stateRowsBound match {
      case Some(bound) => require(stateRows <= bound,
        s"[$tag] state rows $stateRows exceed the shard bound $bound — " +
          "suppression-cache state must never be key-proportional")
      case None => require(stateRows == distinctKeys,
        s"[$tag] state rows $stateRows != distinct keys $distinctKeys — " +
          "state is not key-proportional")
    }

    // best-effort cleanup (hardlinked staging + checkpoint can be large)
    val s = Files.walk(work)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
    finally s.close()

    CaseResult(tInitial, tRestart, stateRows, stateBytes, heapMb,
      distinctKeys, sinkRows, occIn)
  }

  private var lastState: (Long, Long) = (0L, 0L)
  private var lastHeapMb: Long = 0L

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val corpus = args.lift(1).getOrElse(s"/tmp/graft_scale_x$factor")
    for (t <- Seq("documents", "events"))
      require(Files.exists(Paths.get(s"$corpus/$t.parquet")),
        s"missing $corpus/$t.parquet — run `runMain graft.tools.ScaleRun " +
          s"$factor` first (corpus build is its job, not this harness's)")
    val spark = Harness.session("graft-stream-restart")
    // opt-in state-store backend (SPARK_GRAFT_STATE_BACKEND=rocksdb):
    // set session-wide so the initial run AND the restart inherit the
    // same provider — a checkpoint must keep the provider it started
    // with (the two providers' checkpoint state formats differ)
    graft.streaming.StateBackend.providerClass.foreach(c =>
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", c))
    graft.streaming.LocalCheckpointFileManager.use(spark)
    println(s"[restart] state backend: ${graft.streaming.StateBackend.name}")
    // after the provider conf: the warmed provider is the measured one
    Harness.warmUp(spark, base)

    val chunk: DataFrame => DataFrame = df => df
      .select(graft.plans.CdcChunks.cdc_chunks(
        encode(col("text"), "UTF-8"), minLen = 16, maxLen = 256, maskBits = 5))
      .select(col("hash"), col("size"))
      .groupBy(col("hash"))
      .agg(min(col("size")).as("size"), sum(col("size")).as("occ_bytes"))

    def cdcCase(dir: String): CaseResult = runCase(spark, "stream_cdc",
      Seq(s"$dir/documents.parquet"),
      // delta: 100 re-uploads (identical text, new ids — must merge into
      // existing hash state) + 100 new docs
      src => {
        val maxId = src.agg(max(col("doc_id"))).head().getLong(0)
        val re = src.orderBy(col("doc_id")).limit(100)
          .select((col("doc_id") + lit(maxId + 1)).as("doc_id"), col("text"))
        val fresh = src.orderBy(col("doc_id")).limit(100)
          .select((col("doc_id") + lit(maxId + 201)).as("doc_id"),
            concat(lit(s"entirely new delta payload $dir "), col("text"),
              col("doc_id").cast("string")).as("text"))
        re.unionByName(fresh)
          .select(col("doc_id"), col("text"), lit("xx").as("lang"),
            lit("delta").as("source"), length(col("text")).cast("long").as("n_chars"))
      },
      chunk,
      completeMode = true,
      dirs => chunk(spark.read.parquet(dirs: _*)))

    def dedupCase(dir: String): CaseResult = runCase(spark, "stream_dedup",
      Seq(s"$dir/events.parquet"),
      // delta: events from existing users (duplicate keys) + new users
      src => {
        val maxUser = src.agg(max(col("user_id"))).head().getLong(0)
        val dup = src.limit(200)
        val fresh = src.limit(200)
          .withColumn("user_id", col("user_id") + lit(maxUser + 1))
        dup.unionByName(fresh)
      },
      s => graft.streaming.EventStream.dedupKeys(s),
      completeMode = false,
      dirs => spark.read.parquet(dirs: _*)
        .select(col("user_id"), col("event_type")).distinct())

    // the spans twin: suppression-cache state (one row per SHARD, capped
    // bytes). 256 shards × 2^16-entry cap = 16.7M tracked windows ≈ 533 MiB
    // ceiling: the 1× corpus (~1M windows) tracks fully; the 100× corpus
    // (~100M windows) SATURATES the cap — this case proves the degraded
    // regime stays exact while state bytes plateau at the ceiling
    val spansShards = 256
    val spansW = 20
    def spansBatchFirsts(dirs: Seq[String]): DataFrame = {
      import spark.implicits._
      spark.read.parquet(dirs: _*)
        .select(col("doc_id").cast("long"), col("text").cast("string"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val (lo, hi) = graft.operators.Dedupe
            .windowHashes128(text, spansW, withHi = true, loBits = 64)
          lo.indices.iterator.map(i => (lo(i), hi(i), id, (i + 1).toLong))
        }
        .toDF("wlo", "whi", "id", "pos")
        .groupBy(col("wlo"), col("whi"))
        .agg(min(struct(col("id"), col("pos"))).as("f"))
        .select(col("wlo"), col("whi"),
          col("f.id").as("f_id"), col("f.pos").as("f_pos"))
    }
    def spansOccurrences(dirs: Seq[String]): Long = {
      import spark.implicits._
      spark.read.parquet(dirs: _*)
        .select(col("text").cast("string")).as[String]
        .map { text =>
          val n = graft.operators.Dedupe.tokenizeWords(text).length
          math.max(0, n - spansW + 1).toLong
        }
        .agg(coalesce(sum(col("value")), lit(0L))).as[Long].head()
    }
    def spansCase(dir: String, tag: String, cap: Int): CaseResult = runCase(
      spark, tag,
      Seq(s"$dir/documents.parquet"),
      // delta: 100 re-uploads (every window already first-seen — must be
      // suppressed / fold-invisible) + 100 genuinely new docs
      src => {
        val maxId = src.agg(max(col("doc_id"))).head().getLong(0)
        val re = src.orderBy(col("doc_id")).limit(100)
          .select((col("doc_id") + lit(maxId + 1)).as("doc_id"), col("text"))
        val fresh = src.orderBy(col("doc_id")).limit(100)
          .select((col("doc_id") + lit(maxId + 201)).as("doc_id"),
            concat(lit(s"entirely new span delta payload $dir "), col("text"),
              col("doc_id").cast("string")).as("text"))
        re.unionByName(fresh)
          .select(col("doc_id"), col("text"), lit("xx").as("lang"),
            lit("delta").as("source"), length(col("text")).cast("long").as("n_chars"))
      },
      s => graft.streaming.StreamSpans.firstWindows(s, "doc_id", "text",
        spansW, numShards = spansShards, maxStateWindowsPerShard = cap,
        hash128 = true),
      completeMode = false,
      spansBatchFirsts,
      foldSink = graft.streaming.StreamSpans.foldFirsts,
      stateRowsBound = Some(spansShards.toLong),
      occurrencesIn = spansOccurrences)

    // the lines twin rides the SAME suppression cache (StreamLines
    // delegates shard state to StreamSpans.advanceShard), so it gets the
    // identical discipline: initial-vs-restart parity against the batch
    // fold, shard-bounded state rows, and a forced-tiny-cap saturated
    // case with its re-emission volume published. The corpus is reflowed
    // into 12-word lines (the catalog's pageTransform) on BOTH the
    // stream source and the batch twin — raw testdata docs carry no \n,
    // and a one-line-per-doc corpus would test nothing line-shaped.
    val linesShards = 256
    val linesMinChars = 10
    def linesBatchFirsts(dirs: Seq[String]): DataFrame =
      graft.operators.LineDedupe.hashedEligibleLines(
          graft.TextQueries.pageTransform(spark.read.parquet(dirs: _*)),
          "doc_id", "text", linesMinChars)
        .groupBy(col("llo"), col("lhi"))
        .agg(min(struct(col("id"), col("ord"))).as("f"))
        .select(col("llo"), col("lhi"),
          col("f.id").as("f_id"), col("f.ord").as("f_ord"))
    def linesOccurrences(dirs: Seq[String]): Long =
      graft.operators.LineDedupe.hashedEligibleLines(
        graft.TextQueries.pageTransform(spark.read.parquet(dirs: _*)),
        "doc_id", "text", linesMinChars).count()
    def linesCase(dir: String, tag: String, cap: Int): CaseResult = runCase(
      spark, tag,
      Seq(s"$dir/documents.parquet"),
      // delta: 100 re-uploads (every line already first-seen — must be
      // suppressed / fold-invisible) + 100 genuinely new docs
      src => {
        val maxId = src.agg(max(col("doc_id"))).head().getLong(0)
        val re = src.orderBy(col("doc_id")).limit(100)
          .select((col("doc_id") + lit(maxId + 1)).as("doc_id"), col("text"))
        val fresh = src.orderBy(col("doc_id")).limit(100)
          .select((col("doc_id") + lit(maxId + 201)).as("doc_id"),
            concat(lit(s"entirely new line delta payload $dir "), col("text"),
              col("doc_id").cast("string")).as("text"))
        re.unionByName(fresh)
          .select(col("doc_id"), col("text"), lit("xx").as("lang"),
            lit("delta").as("source"), length(col("text")).cast("long").as("n_chars"))
      },
      s => graft.streaming.StreamLines.firstLines(
        graft.TextQueries.pageTransform(s), "doc_id", "text", linesMinChars,
        numShards = linesShards, maxStateLinesPerShard = cap),
      completeMode = false,
      linesBatchFirsts,
      foldSink = graft.streaming.StreamLines.foldFirsts,
      stateRowsBound = Some(linesShards.toLong),
      occurrencesIn = linesOccurrences)

    // unsaturated: 256 shards x 2^16 cap tracks 16.7M windows; the
    // SATURATED twin forces cap 2^10 (262k tracked vs ~1M windows at 1x,
    // ~100M at 100x) — the deep-degradation regime the scaladoc promises
    // stays exact, with its re-emission traffic measured (events out vs
    // window occurrences in) instead of hand-waved. The lines twin gets
    // the same pair of rows (~0.5M line identities at 1x, ~50M at 100x —
    // replica-tagged words keep line classes replica-disjoint, so the
    // default cap saturates at 100x as well).
    val allCases: Seq[(String, () => CaseResult, () => CaseResult)] = Seq(
      ("stream_cdc", () => cdcCase(base), () => cdcCase(corpus)),
      ("stream_dedup", () => dedupCase(base), () => dedupCase(corpus)),
      ("stream_dedup_spans",
        () => spansCase(base, "stream_dedup_spans", 1 << 16),
        () => spansCase(corpus, "stream_dedup_spans", 1 << 16)),
      ("stream_dedup_spans_sat",
        () => spansCase(base, "stream_dedup_spans_sat", 1 << 10),
        () => spansCase(corpus, "stream_dedup_spans_sat", 1 << 10)),
      ("stream_dedup_lines",
        () => linesCase(base, "stream_dedup_lines", 1 << 16),
        () => linesCase(corpus, "stream_dedup_lines", 1 << 16)),
      ("stream_dedup_lines_sat",
        () => linesCase(base, "stream_dedup_lines_sat", 1 << 10),
        () => linesCase(corpus, "stream_dedup_lines_sat", 1 << 10)))
    // iteration aid (same convention as SPARK_GRAFT_SCALE_ONLY): a
    // comma-separated case subset — e.g. the exact-state twins when
    // contrasting state backends; an empty or unknown list exits 2
    // rather than run zero cases, assert nothing, and exit green
    val selected = Harness.onlyFromEnv("SPARK_GRAFT_RESTART_ONLY", allCases.map(_._1).toSet)
      .fold(allCases)(want => allCases.filter(c => want(c._1)))
    val results = selected.map { case (n, r1, rN) => (n, r1(), rN()) }

    println("| query | tier | initial (s) | restart (s) | state rows | state MiB | heap Δ MiB | events out | occ in |")
    println("|---|---|---|---|---|---|---|---|---|")
    val json = results.map { case (name, r1, rN) =>
      for ((tier, r) <- Seq("1x" -> r1, s"${factor}x" -> rN)) {
        val occ = if (r.occurrencesIn == 0) "-" else r.occurrencesIn.toString
        println(s"| $name | $tier | ${num(r.tInitial, 2)} | ${num(r.tRestart, 2)} | " +
          s"${r.stateRows} | ${num(r.stateBytes / 1024.0 / 1024.0, 2)} | " +
          s"${r.heapMb} | ${r.sinkRows} | $occ |")
      }
      // the N× recovery bar: restart pays state reload + delta, never a
      // corpus re-chunk. Two ways to pass: well under the initial run, OR
      // within a small multiple of the 1× restart (the micro-batch engine
      // floor — a query whose initial run is itself near the floor, like
      // the event dedup at low factors, can't show a 2× gap)
      require(rN.tRestart < rN.tInitial / 2 || rN.tRestart < 2.5 * r1.tRestart,
        s"[$name] ${factor}x restart ${num(rN.tRestart, 2)}s is neither < half " +
          s"the initial ${num(rN.tInitial, 2)}s nor near the 1x restart floor " +
          s"${num(r1.tRestart, 2)}s — recovery is re-processing the corpus")
      s""""$name":{"t1_initial":${num(r1.tInitial, 2)},"t1_restart":${num(r1.tRestart, 2)},""" +
        s""""t1_state_rows":${r1.stateRows},"t1_state_bytes":${r1.stateBytes},""" +
        s""""t1_heap_delta_mb":${r1.heapMb},""" +
        s""""tN_initial":${num(rN.tInitial, 2)},"tN_restart":${num(rN.tRestart, 2)},""" +
        s""""tN_state_rows":${rN.stateRows},"tN_state_bytes":${rN.stateBytes},""" +
        s""""tN_heap_delta_mb":${rN.heapMb},""" +
        s""""tN_events_out":${rN.sinkRows},"tN_occurrences_in":${rN.occurrencesIn}}"""
    }
    val line =
      s"""{"stream_restart_factor":$factor,"state_backend":"${graft.streaming.StateBackend.name}",${json.mkString(",")}}"""
    println(line)
    // machine-readable tier evidence (round-19): the README restart and
    // state-backend tables cite this artifact instead of being the only
    // copy of the numbers; backend in the name so an hdfs and a rocksdb
    // sweep of the same factor don't clobber each other
    Harness.writeArtifact(sys.env.getOrElse("GRAFT_RESTART_OUT",
      s"target/stream_restart_x${factor}_${graft.streaming.StateBackend.name}.json"),
      line)
    spark.stop()
  }
}
