package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

import graft.Harness
import graft.Harness.{Failed, minOf, num, timed, writeSingleFile}

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
    // the operators pick the broadcast or shuffle build from the measured
    // duplicated-window count. The incremental
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
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse(s"/tmp/graft_scale_x$factor")
    // SPARK_GRAFT_SCALE_TABLES: comma-separated corpus-table subset
    // (default: all). The 1000× streaming tier builds documents+events
    // only — a 1000× lineitem it will never read would cost tens of GB.
    val tables = Harness.onlyFromEnv("SPARK_GRAFT_SCALE_TABLES", AllCorpusTables)
      .getOrElse(AllCorpusTables)
    // the shared VM host steals CPU in multi-second bursts (observed:
    // a min-of-2 1x row reading 4x its quiet-box value), so a fixed two
    // attempts is not enough for trustworthy ratios — take the min over
    // SPARK_GRAFT_SCALE_MINOF attempts (default 3; the published sweeps
    // state the setting). A non-positive count exits 2 rather than
    // silently publishing min-of-1 numbers.
    val attempts = Harness.orExit(Harness.positiveInt("SPARK_GRAFT_SCALE_MINOF",
      sys.env.get("SPARK_GRAFT_SCALE_MINOF"), 3))
    // tier selection: factors past the 10× tier run the heavy-family
    // subset — two decades of growth on the shapes where a quadratic or
    // a state/collect bound would actually break
    val tierQueries = if (factor > 20) Scale100Queries else ScaleQueries
    // iteration aid (same convention as SPARK_GRAFT_VERIFY_ONLY /
    // SPARK_GRAFT_BENCH_ONLY): comma-separated subset; an empty or
    // unknown list exits 2
    val queries = Harness.onlyFromEnv("SPARK_GRAFT_SCALE_ONLY", tierQueries.toSet)
      .fold(tierQueries)(want => tierQueries.filter(want))
    val spark = Harness.session("graft-scale")
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
    Harness.warmUp(spark, base)

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
    // shared relations are EVICTED (SessionCaches.release) and the builds
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
      for (_ <- 0 until attempts if sharedSelected.nonEmpty) {
        // release before EVERY attempt, including the first: attempt 0
        // must not find either side's relations warm, or min-of-N could
        // pick a warm attempt and skew the shared-build ratios
        Seq(base, out).foreach(graft.operators.SessionCaches.release(_))
        sharedSelected.foreach { case (name, build) =>
          // a failed attempt poisons the build's figure (the min with
          // Failed is Failed): a build that did not reliably complete
          // must surface as FAILED, never as its other attempts' time
          def fold(m: Map[String, Double], t: Double) =
            m.updated(name, m.get(name).fold(t)(math.min(_, t)))
          s1 = fold(s1, timed(build(spark, base)))
          sN = fold(sN, timed(build(spark, out)))
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
      val t = minOf(attempts)(graft.SparkEntry.queries(name)(spark, dir).count())
      // never publish bounded-state evidence for a FAILED query: a
      // successful early attempt may have set the metrics before a later
      // attempt poisoned the timing
      if (t >= 0)
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
          val heapBase = Harness.gcUsedBytes()
          try {
            // same loan bracket as every timed attempt: a stream query
            // that track()s a relation must not leak it into the rest
            // of the sweep (and into this very heap delta)
            graft.operators.SessionCaches.scope {
              graft.SparkEntry.queries(name)(spark, dir).count()
            }
            streamHeap((dir, name)) =
              math.max(0L, Harness.gcUsedBytes() - heapBase) / (1024 * 1024)
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
    val sentinel = new Harness.Sentinel(spark, base)
    sentinel.sample()

    val (shared1, sharedN) = timeShared()
    sentinel.sample()
    val times = queries.map(n => n -> (timeQuery(n, base), timeQuery(n, out))).toMap
    sentinel.sample()
    val t1 = times.map { case (n, (a, _)) => n -> a }
    val tN = times.map { case (n, (_, b)) => n -> b }

    // a ratio with a FAILED side is itself the failure marker; the
    // printed table spells both out as FAILED
    def ratio(a: Double, b: Double): Double = if (a < 0 || b < 0) Failed else b / a
    def show(d: Double, places: Int): String = if (d < 0) "FAILED" else num(d, places)
    if (sharedSelected.nonEmpty)
      println(s"[scale] shared builds 1x/${factor}x: " + sharedSelected.map {
        case (n, _) =>
          s"$n ${show(shared1(n), 2)}/${show(sharedN(n), 2)} " +
            s"(${show(ratio(shared1(n), sharedN(n)), 1)}x)"
      }.mkString(", "))
    println(s"| query | 1x (s) | ${factor}x (s) | ratio |")
    println("|---|---|---|---|")
    queries.foreach { n =>
      println(s"| $n | ${show(t1(n), 2)} | ${show(tN(n), 2)} | ${show(ratio(t1(n), tN(n)), 1)}x |")
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
            s"$r rows / ${num(b / 1048576.0, 2)} MiB$heap"
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
    // done: release their shared relations first so the reading reflects
    // what a hygienic long-lived session would actually retain
    Seq(base, out).foreach(graft.operators.SessionCaches.release(_))
    // also unload the state-store providers the last streaming queries
    // left loaded (a stopped query's state stays in heap on the default
    // backend until the 60 s maintenance cadence) — a hygienic session
    // would have moved on past them too
    org.apache.spark.sql.GraftBridge.unloadStateStores()
    val usedMb = Harness.gcUsedBytes() / (1024 * 1024)
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
      s""""$n":{"t1":${num(t1(n), 2)},"tN":${num(tN(n), 2)},"ratio":${num(ratio(t1(n), tN(n)), 2)}$extra}"""
    }.mkString("{", ",", "}")
    val sharedJs = sharedSelected.map { case (n, _) =>
      s""""$n":{"t1":${num(shared1(n), 2)},"tN":${num(sharedN(n), 2)},"ratio":${num(ratio(shared1(n), sharedN(n)), 2)}}"""
    }.mkString("{", ",", "}")
    val sentinelJs = sentinel.secs.map(num(_, 3)).mkString("[", ",", "]")
    val line =
      s"""{"scale_factor":$factor,"state_backend":"${graft.streaming.StateBackend.name}","minof":$attempts,""" +
        s""""sentinel_floor":${num(sentinel.floor, 2)},"sentinel_load_index":${num(sentinel.loadIndex, 2)},"sentinel_secs":$sentinelJs,""" +
        s""""heap_used_mb":$usedMb,"heap_max_mb":$maxMb,"shared_builds":$sharedJs,"queries":$js}"""
    println(line)
    // machine-readable tier evidence (round-19): the README tier tables
    // cite this artifact instead of being the only copy of the numbers
    Harness.writeArtifact(
      sys.env.getOrElse("GRAFT_SCALE_OUT", s"target/scale_x$factor.json"), line)
    spark.stop()
  }
}
