package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Scale-validation harness: synthesizes a ~Nx corpus from the sf0.1
  * testdata with the repo's deterministic column transforms, times the
  * scale-critical catalog queries at 1x and Nx, and prints the wall-time
  * ratios. The bar: every capped/bucketed plan should scale ≈linearly in
  * corpus size; anything ≳ quadratic is a plan bug.
  *
  * Corpus construction (all pure deterministic column expressions):
  * - documents ×N: doc_id offset per replica; every WORD suffixed with the
  *   replica tag. A bijective token map per replica keeps within-replica
  *   dup/near-dup structure IDENTICAL to the original while making
  *   cross-replica shingles disjoint — so pair counts (the quadratic risk)
  *   grow ~linearly, like a real corpus of N same-shaped sources.
  * - embeddings ×N: vec_id offset; per-replica deterministic jitter on each
  *   component (hash-derived, ±0.05) so replicas are not trivial vector
  *   duplicates of each other.
  * - lineitem/orders ×N: N concatenated copies in ONE file (the chunker's
  *   input contract is a plain file) — repeated content is exactly what a
  *   dedup estimator should chew through.
  *
  * Usage: runMain graft.tools.ScaleRun [factor] [outDir]
  */
object ScaleRun {

  /** Post-GC used heap: two passes with a settling sleep (a single pass
    * often leaves reference-processing work pending and over-reads).
    * Shared by the per-query heap probes here and by
    * [[StreamRestartRun]]'s per-case baseline-delta readings.
    */
  private[tools] def gcUsedBytes(): Long = {
    System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    rt.totalMemory() - rt.freeMemory()
  }

  /** Persist a harness's machine-readable JSON line (the Bench
    * discipline: the default path is UNTRACKED under target/ so driver
    * and verification reruns can never clobber a committed copy —
    * publishing one is an explicit `cp`). NonFatal-safe: losing the
    * computed sweep to an artifact-write hiccup is never worth it.
    */
  private[tools] def writeArtifact(
      defaultPath: String, envVar: String, line: String): Unit =
    try {
      val out = Paths.get(sys.env.getOrElse(envVar, defaultPath))
      Option(out.getParent)
        .foreach(p => { Files.createDirectories(p); () })
      Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"artifact write failed (non-fatal): $e")
    }

  /** Write df as a SINGLE parquet file at dir/name (the chunk queries open
    * paths as plain file streams, not directory tables).
    */
  private[tools] def writeSingleFile(df: DataFrame, dir: String, name: String): Unit = {
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
    // best-effort temp cleanup
    val s = Files.walk(Paths.get(tmp))
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
    finally s.close()
  }

  /** Every corpus table the builder knows; SPARK_GRAFT_SCALE_TABLES
    * selects a subset (the 1000× streaming tier needs only
    * documents+events — building a 1000× lineitem for it would waste
    * tens of GB and most of the build time).
    */
  private[tools] val AllCorpusTables: Set[String] =
    Set("documents", "embeddings", "lineitem", "orders", "events", "part")

  private def buildCorpus(spark: SparkSession, base: String, out: String,
      factor: Int, tables: Set[String]): Unit = {
    Files.createDirectories(Paths.get(out))

    if (tables("documents")) {
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val nDocs = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val docReps = (0 until factor).map { k =>
      val text =
        if (k == 0) col("text")
        else array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"_r$k"))), " ")
      docs.select(
        (col("doc_id") + lit(k * nDocs)).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }
    writeSingleFile(docReps.reduce(_ unionAll _), out, "documents.parquet")
    }

    if (tables("embeddings")) {
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val nVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val embReps = (0 until factor).map { k =>
      // the jitter sub-expression must round-trip to FLOAT: Spark's `/`
      // promotes to double, and a DOUBLE[] embedding breaks the queries'
      // FLOAT[] encoder contract
      val vec =
        if (k == 0) col("embedding")
        else transform(col("embedding"), (v, i) =>
          v + (((pmod(hash(col("vec_id"), lit(k), i), lit(1000)).cast("double")
            / lit(1000.0)) - lit(0.5)) * lit(0.1)).cast("float"))
      emb.select(
        (col("vec_id") + lit(k * nVec)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }
    writeSingleFile(embReps.reduce(_ unionAll _), out, "embeddings.parquet")
    }

    for (t <- Seq("lineitem", "orders") if tables(t)) {
      val src = spark.read.parquet(s"$base/$t.parquet")
      writeSingleFile(Seq.fill(factor)(src).reduce(_ unionAll _), out, s"$t.parquet")
    }

    // events ×N: user_id/event_id offset per replica, ts/type/value/props
    // untouched — the realistic scale axis is MORE USERS over the SAME
    // period, so per-user session/funnel structure is identical per
    // replica and the event-time family (sessionization, as-of, interval
    // join, funnel) should scale ≈linearly in the user-keyed shuffles.
    // ts is replicated as-is, whatever physical type the testdata ships
    // (the queries adapt via graft.Events).
    if (tables("events")) {
    val ev = spark.read.parquet(s"$base/events.parquet")
    val nUsers = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    val nEv = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val evReps = (0 until factor).map { k =>
      ev.select(
        (col("event_id") + lit(k * nEv)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k * nUsers)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    writeSingleFile(evReps.reduce(_ unionAll _), out, "events.parquet")
    }

    // part stays 1× (the dim side): lineitem fact rows grow ×N against
    // the same part keys, so q22's per-part correlated aggregates see N×
    // deeper groups — the realistic dim/fact scale split. Replicating
    // part would instead duplicate its keys and break key semantics.
    if (tables("part"))
      writeSingleFile(spark.read.parquet(s"$base/part.parquet"), out,
        "part.parquet")
  }

  private val ScaleQueries = Seq(
    "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_ngram",
    // exact-substring spans: corpus-wide window-hash agg + narrow merge,
    // the keep-earliest cut rewrite, and the cut-audit provenance over
    // the same substrate
    "dedup_spans", "dedup_spans_approx", "dedup_spans_approx_source",
    "dedup_spans_cut",
    "dedup_spans_provenance", "dedup_spans_incremental",
    "dedup_source_matrix",
    // line-level exact dedup (RefinedWeb pass): string-keyed groupBy of
    // the corpus line bytes + hash-keyed keep-earliest rebuild —
    // replica-tagged words keep line classes replica-disjoint, so dup
    // classes grow ~N×; the approx tier is the one-pass KMV triage
    "dedup_lines", "dedup_lines_approx", "dedup_lines_cut",
    "dedup_lines_incremental",
    // r16: the cross-source boilerplate matrix — provenance front half
    // (one sized line exchange + hash-pair join) + |sources|²-bounded
    // rollup; its scale shape is the report's, plus two doc_id joins
    "dedup_lines_matrix",
    "dedup_clusters", "dedup_keep_best", "dedup_neardup_matrix",
    "semantic_dedup", "emb_neardup",
    "cdc_estimate", "doc_select_topk", "lm_score", "ann_ivfpq_topk",
    "dist_drift", "emb_drift",
    // event-time family (replica-offset user_ids: more users, same
    // period). q13's N× user_ids miss the un-offset orders dim by design —
    // the asof probe side, which is what grows, is still fully exercised.
    "event_sessions", "q13_asof_join", "q16_interval_join", "q21_funnel",
    "stream_sessions",
    // layout analysis: narrow quantize pass + one bucket agg over N× events
    "zorder_layout",
    // tokenizer training: replica-tagged words grow the VOCAB ~N× (the
    // relation every iteration runs over), not just the corpus
    "bpe_train",
    // epoch shuffle: range sort + two-pass rank over N× docs
    "doc_shuffle",
    // streaming estimator: chunk volume and per-hash state both grow N×
    "stream_cdc",
    // r16 fixed-state streaming triage twins: N× corpus through the
    // micro-batch scan, state stays one sketch buffer at both scales
    "stream_lines_approx", "stream_spans_approx",
    // full-corpus Lloyd's: per-iteration narrow sweep over N× vectors,
    // partials stay k×dim regardless — the linear-scan scale shape
    "emb_kmeans",
    // SemDeDup over those buckets: jittered replicas spread across
    // clusters, within-cluster pair volume grows ~N×, never N²
    "semantic_dedup_kmeans",
    // decorrelated scalar subqueries: two per-part aggregates over N×
    // lineitem + broadcast joins back
    "q22_scalar_subquery",
    // MERGE fold: N× snapshot must stay map-only (delta broadcasts);
    // the delta itself also grows N× here — the worst case of both
    "merge_apply",
    // join planning profilers: count relations grow with |keys| (N×
    // replica-offset user_ids), corpus rows never join
    "key_skew", "join_size_profile",
    // perceptual fingerprints: N× real codec encodes+decodes in the
    // narrow pass — the kernel-bound linear-scan shape; band join stays
    // group-bounded
    "mm_phash_dedup", "mm_audio_fp",
    // video keyframes: N× real Y4M encodes+parses, 4 sigs per blob
    // through the shared pigeonhole
    "mm_video_fp",
    // asymmetric containment: prefix ⋈ full-index join — replica-tagged
    // words keep gram sets disjoint across replicas, so df distribution
    // (and the Σ df_prefix·df join volume) grows linearly, never N²
    "dedup_containment",
    // cohort/attribution/segmentation/engagement: N× users over the same
    // period — the distincts and user windows grow linearly, cells and
    // tercile windows stay |users|-bounded
    "event_retention", "event_attribution", "event_rfm", "event_dau_wau",
    // PCA covariance sweep: N× vectors through the one narrow pass;
    // partials stay d(d+1)/2 longs per partition regardless
    "emb_covariance",
    // PCA projection + deviation flags: two bounded aggregates over the
    // narrow projection relation
    "emb_pca_outliers",
    // bloom point-lookup demo: the rewrite grows N×, probes stay 24 keys
    // against N× row groups (cells relation = keys × row groups)
    "bloom_point_lookup",
    // per-language confusion rollup: map-side-combined over N× docs
    "lang_id_eval",
    // NOT dedup_lsh_eval / semantic_dedup_pca: the eval's ground-truth
    // sample is FIXED-size by design (you never grow the quadratic with
    // the corpus), and the PCA sign-bucket dedup is registered with its
    // cap disabled for oracle exactness — its scale form grows the
    // component count (2^c buckets) with the corpus instead
    "doc_temperature_mix")

  /** The 100× tier: the ~12 heaviest query families by honest cost, each
    * a distinct scale-critical shape (LSH band join, hamming pigeonhole,
    * PQ codes, MERGE broadcast decomposition, streaming chunker state,
    * prefix-sum packing, heavy-hitter sketch, Lloyd's sweep, range-sort
    * shuffle, CDC kernel, session window, codec kernel). Two decades of
    * growth is where a hidden quadratic or a state/collect bound actually
    * breaks; the rest of ScaleQueries is covered by the 10× tier.
    */
  private val Scale100Queries = Seq(
    "dedup_minhash", "dedup_simhash", "ann_ivfpq_topk", "merge_apply",
    "stream_cdc", "doc_pack", "text_heavy_hitters", "emb_kmeans",
    "cdc_estimate", "doc_shuffle", "event_sessions", "mm_phash_dedup",
    // the round-9 quadratic-risk shape: asymmetric prefix join — two
    // decades is where an accidental df blowup would actually show
    "dedup_containment",
    // exact-substring spans: THE token-volume-heavy realistic pipeline
    // job (Lee et al. cut). Window-hash kernel + input-sized hash agg;
    // run also with SPARK_GRAFT_SPANS_BCAST_LIMIT=0 to exercise the
    // shuffle build (the 100 TB path) at this tier. The incremental
    // refresh (lower-half index build + upper-half batch cut) is the
    // production shape and must hold at two decades too. r14 promotions:
    // the provenance relation (now a shared build feeding two queries —
    // its 100x behavior is load-bearing), the source matrix over it, and
    // the approx first-pass tier (sketch saturates here: the regime it
    // exists for)
    "dedup_spans", "dedup_spans_cut", "dedup_spans_incremental",
    "dedup_spans_provenance", "dedup_source_matrix", "dedup_spans_approx",
    "dedup_spans_approx_source",
    // r14: line-level keep-earliest cut — the one corpus-sized exchange
    // keyed on a STRING (line bytes on the wire); two decades is where
    // an accidental rebuild blowup or dupFirsts skew would show.
    // r15 promotions: the report and incremental-refresh shapes (the
    // nightly-ingest story), the KMV line triage (sketch saturates
    // here: the regime it exists for), and the near-dup matrix (it
    // consumes the shared minhash pair relation — its 100x behavior
    // validates pair-relation sharing under real cardinality)
    "dedup_lines_cut", "dedup_lines", "dedup_lines_incremental",
    "dedup_lines_approx", "dedup_neardup_matrix",
    // r16: the line-family cut audit — provenance front half + doc_id
    // joins + |sources|²-bounded rollup; two decades is where a join
    // blowup on the dropped-line relation would show
    "dedup_lines_matrix",
    // r17: the fixed-state streaming KMV triage twins at two decades —
    // their whole claim is corpus-independent state (one ≤k-long sketch
    // buffer), and this tier is what proves it: the harness reports
    // state rows/bytes next to wall time, which must be IDENTICAL at 1×
    // and 100× (the stream_cdc precedent, where state is the contrast)
    "stream_lines_approx", "stream_spans_approx")

  def main(args: Array[String]): Unit = {
    System.setProperty(graft.Queries.SideTableProp, "0")
    // a typo'd SPARK_GRAFT_STATE_BACKEND must abort NOW, before the
    // corpus build and timed work (providerClass is lazy)
    graft.streaming.StateBackend.forceResolve()
    graft.streaming.EventStream.forceResolveSink()
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse(s"/tmp/graft_scale_x$factor")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_SCALE_TABLES: comma-separated corpus-table subset
    // (default: all). The 1000× streaming tier builds documents+events
    // only — a 1000× lineitem it will never read would cost tens of GB.
    val tables = sys.env.get("SPARK_GRAFT_SCALE_TABLES") match {
      case None => AllCorpusTables
      case Some(csv) =>
        val want = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = want.diff(AllCorpusTables)
        if (want.isEmpty || unknown.nonEmpty) {
          System.err.println(s"[scale] SPARK_GRAFT_SCALE_TABLES must name " +
            s"tables from ${AllCorpusTables.toSeq.sorted.mkString(",")}; " +
            s"got '$csv'")
          sys.exit(2)
        }
        want
    }
    // SPARK_GRAFT_SCALE_REUSE=1: skip the (deterministic) corpus build
    // when the output dir already holds every selected table —
    // iteration aid for re-measuring single families without the rebuild
    val reusable = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
      tables.forall(t => Files.exists(Paths.get(s"$out/$t.parquet")))
    if (reusable) println(s"[scale] reusing existing ${factor}x corpus at $out")
    else {
      println(s"[scale] building ${factor}x corpus at $out from $base " +
        s"(tables: ${tables.toSeq.sorted.mkString(",")})")
      val tBuild = System.nanoTime()
      buildCorpus(spark, base, out, factor, tables)
      println(f"[scale] corpus built in ${(System.nanoTime() - tBuild) / 1e9}%.1f s")
    }
    // SPARK_GRAFT_SCALE_BUILD_ONLY=1: corpus construction as a service
    // for the other harnesses (StreamRestartRun's 1000× tier) — exit
    // before the query sweep
    if (sys.env.get("SPARK_GRAFT_SCALE_BUILD_ONLY").contains("1")) {
      println(s"[scale] build-only requested; corpus ready at $out")
      spark.stop()
      return
    }

    // warm code paths once (Bench discipline) so neither side pays codegen
    for (w <- Seq("dedup_exact", "cdc_estimate"))
      try graft.SparkEntry.queries(w)(spark, base).count()
      catch { case scala.util.control.NonFatal(_) => () }

    // a failed query must surface as FAILED in the table, never as a
    // too-fast-to-be-true timing; NaN poisons the ratio visibly
    def once(fn: () => Unit): Double = {
      val t0 = System.nanoTime()
      try { fn(); (System.nanoTime() - t0) / 1e9 }
      catch { case scala.util.control.NonFatal(e) =>
        // e.toString, not getMessage: a null/empty message (plain NPE)
        // would crash the reporter inside the catch handler
        println(s"[scale] FAILED: ${e.toString.linesIterator.next()}")
        Double.NaN
      }
    }
    // the shared VM host steals CPU in multi-second bursts (observed:
    // a min-of-2 1x row reading 4x its quiet-box value), so a fixed two
    // attempts is not enough for trustworthy ratios — take the min over
    // SPARK_GRAFT_SCALE_MINOF attempts (default 3; the published sweeps
    // state the setting)
    val attempts = sys.env.get("SPARK_GRAFT_SCALE_MINOF") match {
      case None => 3
      case Some(s) =>
        val n =
          try s.trim.toInt
          catch {
            case _: NumberFormatException =>
              System.err.println(
                s"[scale] SPARK_GRAFT_SCALE_MINOF must be a positive attempt count, got '$s'")
              sys.exit(2)
          }
        if (n < 1) {
          // fail loudly rather than silently publishing min-of-1 numbers
          System.err.println(
            s"[scale] SPARK_GRAFT_SCALE_MINOF must be >= 1, got $n")
          sys.exit(2)
        }
        n
    }
    def minOfN(fn: () => Unit): Double = {
      var best = graft.operators.Dedupe.withTrackedCaches(once(fn))
      var i = 1
      while (!best.isNaN && i < attempts) {
        best = math.min(best, graft.operators.Dedupe.withTrackedCaches(once(fn)))
        i += 1
      }
      best
    }

    // tier selection: factors past the 10× tier run the heavy-family
    // subset — two decades of growth on the shapes where a quadratic or
    // a state/collect bound would actually break
    val tierQueries = if (factor > 20) Scale100Queries else ScaleQueries
    // iteration aid (same convention as SPARK_GRAFT_VERIFY_ONLY /
    // SPARK_GRAFT_BENCH_ONLY): comma-separated subset; a typo exits 2
    val queries = sys.env.get("SPARK_GRAFT_SCALE_ONLY") match {
      case None => tierQueries
      case Some(csv) =>
        val want = csv.split(",").map(_.trim).filter(_.nonEmpty)
        val unknown = want.filterNot(tierQueries.contains)
        if (unknown.nonEmpty) {
          System.err.println(
            s"[scale] unknown SPARK_GRAFT_SCALE_ONLY entries: ${unknown.mkString(",")}")
          sys.exit(2)
        }
        tierQueries.filter(want.contains)
    }
    val qSet = queries.toSet
    // only the shared builds some selected query consumes (Bench's
    // attribution rule): the ngram-pairs build for an unselected consumer
    // would dominate a 100× run it has nothing to do with
    val sharedSelected = graft.TextQueries.sharedBuilds.filter { case (n, _) =>
      graft.TextQueries.sharedBuildConsumers(n).exists(qSet)
    }

    // Measurement order is INTERLEAVED per unit of work: each shared
    // build and each query is timed at 1x and then immediately at Nx,
    // so the two sides of every published RATIO run seconds apart in
    // the same host window. (Timing the whole 1x tier first put ~10
    // minutes between a query's two sides; on this burst-noisy shared
    // VM that landed sustained slow windows on exactly one side and
    // corrupted ratios even under min-of-3.)
    //
    // Shared builds are timed separately per dir (same attribution as
    // Bench). A naive re-run would hit the session cache and report the
    // cached scan, not the build — so between attempts the per-dir
    // session relations are EVICTED (releaseFor) and the builds
    // genuinely rebuild; the min is per build, and the final attempt
    // leaves both dirs' caches warm for the query segment. NOTE one
    // deliberate difference from the old tier-by-tier order: the 1×
    // queries now run with the Nx shared relations also resident. With
    // an 8 GiB heap and ≤ ~1.5 GiB of caches after the full 100× sweep
    // this costs the 1× side nothing measurable (the 1× readings at the
    // 100× tier match the 10× tier's), and it is what buys the
    // interleaving that keeps the RATIOS honest on a bursty host.
    def timeShared(): (Map[String, Double], Map[String, Double]) = {
      var s1 = Map.empty[String, Double]
      var sN = Map.empty[String, Double]
      for (attempt <- 0 until attempts if sharedSelected.nonEmpty) {
        // release before EVERY attempt, including the first: the warmup
        // queries run against the 1× dir only, so attempt 0's base-side
        // build could otherwise hit warm session relations while the N×
        // side is always cold — an asymmetry that let min-of-N pick a
        // warm base attempt and slightly inflate shared-build ratios
        graft.Queries.SessionRelationCache.releaseFor(base)
        graft.Queries.SessionRelationCache.releaseFor(out)
        sharedSelected.foreach { case (name, build) =>
          val a = once(() => build(spark, base))
          val b = once(() => build(spark, out))
          // a failed attempt poisons the build's figure in EITHER
          // direction (the "must surface as FAILED" policy) — min-ing
          // around a NaN would publish a number for a build that did
          // not reliably complete
          def fold(m: Map[String, Double], t: Double) = m.get(name) match {
            case Some(prev) =>
              m.updated(name,
                if (prev.isNaN || t.isNaN) Double.NaN else math.min(prev, t))
            case None => m.updated(name, t)
          }
          s1 = fold(s1, a); sN = fold(sN, b)
        }
      }
      (s1, sN)
    }

    // (dir, query) → (state rows, state bytes) captured from the LAST
    // streaming run of each timed query — the bounded-state evidence
    // printed next to the wall-time table
    val streamState =
      scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
    // (dir, query) → post-GC used-heap DELTA with exactly ONE run's
    // state providers loaded vs an unloaded baseline (see below): under
    // the default HDFSBacked backend the delta carries the state rows
    // IN-HEAP; under rocksdb the state lives off-heap/on-disk and the
    // delta stays near the harness-sink floor — the per-query evidence
    // for the SPARK_GRAFT_STATE_BACKEND flag
    val streamHeap = scala.collection.mutable.Map.empty[(String, String), Long]
    def timeQuery(name: String, dir: String): Double = {
      // drop this thread's sink attribution so a batch query can never
      // inherit the previous streaming query's metrics
      graft.streaming.EventStream.clearThreadStateAttribution()
      val t = minOfN(() => { graft.SparkEntry.queries(name)(spark, dir).count(); () })
      // never publish bounded-state evidence for a FAILED query: a
      // successful early attempt may have set the metrics before a later
      // attempt poisoned the timing to NaN
      if (!t.isNaN)
        graft.streaming.EventStream.lastStateMetricsHere.foreach { m =>
          streamState((dir, name)) = m
          // dedicated UNTIMED run for the heap evidence, reported as a
          // DELTA over a just-taken baseline: the timed attempts left up
          // to `attempts` checkpoint-distinct provider copies loaded
          // (each run gets a fresh temp checkpoint) plus driver-side
          // sink buffers that die on their own schedule, so an absolute
          // reading smears one query's leftovers into the next. Unload
          // everything, take a post-GC baseline, load exactly ONE run's
          // state, read again: the delta is this query's own resident
          // footprint (state provider + its harness sink — the sink
          // rides BOTH backends identically, so the hdfs-vs-rocksdb
          // difference isolates where the state lives)
          org.apache.spark.sql.GraftBridge.unloadStateStores()
          val heapBase = gcUsedBytes()
          try {
            // same loan bracket as every timed attempt: a stream query
            // that track()s a relation must not leak it into the rest
            // of the sweep (and into this very heap delta)
            graft.operators.Dedupe.withTrackedCaches {
              graft.SparkEntry.queries(name)(spark, dir).count()
            }
            streamHeap((dir, name)) =
              math.max(0L, gcUsedBytes() - heapBase) / (1024 * 1024)
          } catch { case scala.util.control.NonFatal(e) =>
            // a missing heap_delta_mb field must be distinguishable
            // from a probe crash: a systematically failing probe (e.g.
            // under a misbehaving backend) must not read as "no data"
            System.err.println(
              s"[scale] heap probe FAILED for $name @ $dir: " +
                e.toString.linesIterator.next())
          }
          org.apache.spark.sql.GraftBridge.unloadStateStores()
        }
      t
    }

    // box sentinel (Bench's dedicated scan-agg probe): sampled before
    // and after the sweep so the published artifact carries the same
    // machine-readable load evidence as the bench headline —
    // sentinel_floor (box steady-state speed, comparable across rounds)
    // and sentinel_load_index (burstiness across this window). The
    // interleaved 1×/N× ordering stays the primary ratio defense; these
    // fields make the window itself checkable after the fact.
    val sentinelSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sentinelQuery: () => Unit = () => {
      spark.read.parquet(s"$base/lineitem.parquet")
        .groupBy(col("l_linestatus"))
        .agg(sum(col("l_extendedprice")).as("sum_price"),
          avg(col("l_discount")).as("avg_disc"))
        .collect()
      ()
    }
    def runSentinel(): Unit = {
      // min-of-2 per sample, same as Bench: a one-off GC hiccup must not
      // fake a load spike
      val a = once(sentinelQuery)
      val b = once(sentinelQuery)
      val t = if (a.isNaN) b else if (b.isNaN) a else math.min(a, b)
      if (!t.isNaN) sentinelSecs += t
    }
    // two untimed priming runs: C2 ramps a small scan-agg over several
    // executions and an unprimed first sample would fake a load index
    once(sentinelQuery); once(sentinelQuery)
    runSentinel()

    val (shared1, sharedN) = timeShared()
    runSentinel()
    val timed = queries.map(n => n -> (timeQuery(n, base), timeQuery(n, out))).toMap
    runSentinel()
    val t1 = timed.map { case (n, (a, _)) => n -> a }
    val tN = timed.map { case (n, (_, b)) => n -> b }

    // Locale.ROOT everywhere: the JSON line is machine-parsed, and even
    // the human table must not flip to comma decimals on another JVM
    def n2(d: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, d)
    def n1(d: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, d)
    if (sharedSelected.nonEmpty)
      println(s"[scale] shared builds 1x/${factor}x: " + sharedSelected.map {
        case (n, _) =>
          s"$n ${n2(shared1(n))}/${n2(sharedN(n))} (${n1(sharedN(n) / shared1(n))}x)"
      }.mkString(", "))
    println(s"| query | 1x (s) | ${factor}x (s) | ratio |")
    println("|---|---|---|---|")
    queries.foreach { n =>
      println(s"| $n | ${n2(t1(n))} | ${n2(tN(n))} | ${n1(tN(n) / t1(n))}x |")
    }
    // bounded-state evidence for the streaming queries: state-store
    // rows/bytes at both tiers (the fixed-state twins must be IDENTICAL)
    val stateNames = queries.filter(n =>
      streamState.contains((base, n)) || streamState.contains((out, n)))
    if (stateNames.nonEmpty) {
      def fmt(dir: String, n: String): String =
        streamState.get((dir, n))
          .map { case (r, b) =>
            val heap = streamHeap.get((dir, n))
              .map(h => s", heap +$h MiB").getOrElse("")
            s"$r rows / ${n2(b / 1048576.0)} MiB$heap"
          }
          .getOrElse("-")
      println(s"[scale] streaming state (max rows / bytes across triggers, " +
        s"backend=${graft.streaming.StateBackend.name}), 1x vs ${factor}x:")
      stateNames.foreach { n =>
        println(s"[scale]   $n: ${fmt(base, n)} vs ${fmt(out, n)}")
      }
    }
    // memory headroom after the Nx sweep: a post-GC used-heap reading —
    // the resident state (caches, broadcasts, state stores) the sweep
    // leaves behind, against the configured ceiling. Both corpora are
    // done: release their session-shared relations first (the untracked
    // caches releaseTrackedCaches cannot reclaim) so the reading reflects
    // what a hygienic long-lived session would actually retain
    graft.Queries.SessionRelationCache.releaseFor(base)
    graft.Queries.SessionRelationCache.releaseFor(out)
    // also unload the state-store providers the last streaming queries
    // left loaded (a stopped query's state stays in heap on the default
    // backend until the 60 s maintenance cadence) — a hygienic session
    // would have moved on past them too
    org.apache.spark.sql.GraftBridge.unloadStateStores()
    val usedMb = gcUsedBytes() / (1024 * 1024)
    val maxMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    println(s"[scale] heap after ${factor}x sweep: ${usedMb} MiB used of ${maxMb} MiB max")
    val js = queries.map { n =>
      val st = Seq((base, "1"), (out, "N")).flatMap { case (d, sfx) =>
        streamState.get((d, n)).map { case (r, b) =>
          val heap = streamHeap.get((d, n))
            .map(h => s""","heap_delta_mb_$sfx":$h""").getOrElse("")
          s""""state_rows_$sfx":$r,"state_bytes_$sfx":$b$heap"""
        }
      }
      val extra = if (st.isEmpty) "" else "," + st.mkString(",")
      s""""$n":{"t1":${n2(t1(n))},"tN":${n2(tN(n))},"ratio":${n2(tN(n) / t1(n))}$extra}"""
    }.mkString("{", ",", "}")
    val sharedJs = sharedSelected.map { case (n, _) =>
      s""""$n":{"t1":${n2(shared1(n))},"tN":${n2(sharedN(n))},"ratio":${n2(sharedN(n) / shared1(n))}}"""
    }.mkString("{", ",", "}")
    val sentinelFloor = sentinelSecs.minOption.getOrElse(-1.0)
    val sentinelLoad =
      if (sentinelSecs.size < 2 || sentinelFloor <= 0) -1.0
      else sentinelSecs.max / sentinelFloor
    val sentinelJs = sentinelSecs
      .map(v => "%.3f".formatLocal(java.util.Locale.ROOT, v))
      .mkString("[", ",", "]")
    val line =
      s"""{"scale_factor":$factor,"state_backend":"${graft.streaming.StateBackend.name}","minof":$attempts,""" +
        s""""sentinel_floor":${n2(sentinelFloor)},"sentinel_load_index":${n2(sentinelLoad)},"sentinel_secs":$sentinelJs,""" +
        s""""heap_used_mb":$usedMb,"heap_max_mb":$maxMb,"shared_builds":$sharedJs,"queries":$js}"""
    println(line)
    // machine-readable tier evidence (round-19): the README tier tables
    // cite this artifact instead of being the only copy of the numbers
    writeArtifact(s"target/scale_x$factor.json", "GRAFT_SCALE_OUT", line)
    spark.stop()
  }
}
