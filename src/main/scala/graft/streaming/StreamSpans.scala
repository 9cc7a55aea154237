package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact-substring dedup — [[graft.operators.Dedupe.cutDuplicateSpans]]
  * as a continuous ingestion filter ("cut the paragraphs we already
  * have"), re-architected so state is a BOUNDED CACHE rather than a
  * correctness-bearing store.
  *
  * The naive shape (state keyed by window hash, one entry per distinct
  * corpus window) is token-linear: ~10¹³ state keys at the 100 TB design
  * point, four orders of magnitude past stream_cdc's chunk-linear ~10⁹ —
  * no state backend survives that. This design splits the problem:
  *
  *  - **Exactness lives in the emitted events + the finish fold, not in
  *    state.** Each micro-batch emits, per distinct window it carries,
  *    the batch-local earliest (doc_id, pos) — UNLESS the state already
  *    holds an equal-or-smaller occurrence for that window. Every stored
  *    occurrence was itself emitted in the batch that stored it, so for
  *    any window the globally smallest occurrence is always emitted at
  *    least once, and the finish's `min(struct(f_id, f_pos))` per window
  *    recovers the exact global first occurrence — under ANY arrival
  *    order (no id-ordered ingest contract) and ANY state eviction.
  *  - **State is pure emission suppression.** Dropping an entry can only
  *    cause a redundant re-emission that the finish folds away, so the
  *    store can be capped arbitrarily without touching the answer.
  *
  * State layout: keyed by `wlo mod numShards` (not by window), each shard
  * holding four sorted parallel arrays ((wlo, whi) window identity →
  * earliest id/pos seen), hard-capped at `maxStateWindowsPerShard`
  * entries. Bounds: state ROWS ≤ numShards (one row per shard —
  * StreamSpansSpec asserts this against the progress metrics), state
  * BYTES ≤ numShards × maxStateWindowsPerShard × 32 B + store overhead
  * (defaults: 64 × 4 Mi × 32 B ≈ 8 GiB ceiling, reached only past
  * ~256 M distinct windows). Past the cap, untracked windows re-emit
  * every occurrence — shuffle-class traffic absorbed by the finish's
  * input-sized aggregation (the batch operator's own shape), not
  * state-class growth. Per-TASK memory is O(cap) too: rows stream through
  * the shard function one by one and emissions are never buffered (see
  * [[advanceShard]]), so even an unthrottled backfill trigger carrying
  * the whole corpus in one micro-batch cannot OOM a shard task. At
  * 100 TB: size `numShards` to the cluster (state-op parallelism =
  * shards) and accept the saturated regime — the operator degrades to
  * per-occurrence emission + exact batch finish instead of dying.
  *
  * Identity width: `hash128 = true` (the [[runCutOnce]] default, and the
  * production configuration) carries the full 128-bit (wlo, whi) window
  * identity through the event stream and the shard cache — the same
  * width the batch cut runs at, because a window-hash collision in a
  * CUT deletes innocent text. `hash128 = false` zeroes `whi` (shrinking
  * nothing: the column rides along as a constant) and is the bounded-
  * backfill/report configuration, same as the 64-bit batch detector.
  * StreamSpansSpec proves the 128-bit stream returns the uncollided
  * answer under engineered total lo-collisions.
  */
object StreamSpans {

  /** Per-shard suppression cache: parallel arrays sorted by (wlo, whi),
    * holding the smallest (id, pos) stored so far per tracked window.
    * One state-store row per SHARD — never per window.
    */
  final case class ShardState(
      wlos: Array[Long], whis: Array[Long],
      ids: Array[Long], poss: Array[Long])

  /** Default shard count: state-operator parallelism and the row bound. */
  val DefaultShards: Int = 64

  /** Default per-shard tracked-window cap (entries, 32 B each). */
  val DefaultShardCap: Int = 4 << 20

  /** (wlo, whi, f_id, f_pos) append stream: per row, an occurrence emits
    * unless the shard cache (or this batch's overlay) already holds an
    * equal-or-smaller one for its window. Consumers MUST fold
    * `min(struct(f_id, f_pos))` per (wlo, whi) (see [[foldFirsts]]); the
    * raw stream may carry several events per window (late smaller
    * occurrences re-emit, and past-cap windows emit per occurrence —
    * that is what makes the fold exact under out-of-order ingest and
    * arbitrary eviction).
    */
  def firstWindows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      numShards: Int = DefaultShards,
      maxStateWindowsPerShard: Int = DefaultShardCap,
      hash128: Boolean = false): DataFrame =
    firstWindowsImpl(docs, idCol, textCol, windowTokens, numShards,
      maxStateWindowsPerShard, hash128, loBits = 64)

  /** [[firstWindows]] with the collision-injection knob (`loBits` masks
    * the low identity half — StreamSpansSpec forces total lo-collisions
    * to prove the hash128 stream still lands on the uncollided cut).
    */
  private[graft] def firstWindowsImpl(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      numShards: Int,
      maxStateWindowsPerShard: Int,
      hash128: Boolean,
      loBits: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    require(maxStateWindowsPerShard >= 0,
      s"negative cap: $maxStateWindowsPerShard")
    val spark = docs.sparkSession
    import spark.implicits._
    val w = windowTokens
    val cap = maxStateWindowsPerShard
    val h128 = hash128
    val lb = loBits
    docs
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val (lo, hi) = graft.operators.Dedupe.windowHashes128(text, w, h128, lb)
        lo.indices.iterator.map(i => (lo(i), hi(i), id, (i + 1).toLong))
      }
      // shard on the FULL identity, mixed: under lo-collisions (or a
      // skewed low half) the high half still spreads windows across
      // shards, and the mix avoids gcd(multiplier, numShards) artifacts
      .groupByKey(r => math.floorMod(
        scala.util.hashing.byteswap64(r._1) ^ r._2, numShards.toLong))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[(Long, Long, Long, Long)],
            state: GroupState[ShardState]) =>
          advanceShard(rows, state, cap))
      .toDF("wlo", "whi", "f_id", "f_pos")
  }

  /** Binary search over the pair-sorted parallel arrays: index of
    * (a, b), or -1 when absent. Ordering is (signed wlo, signed whi) —
    * arbitrary but consistent with [[flushOverlay]]'s merge.
    */
  private def searchPair(
      wlos: Array[Long], whis: Array[Long], a: Long, b: Long): Int = {
    var lo = 0
    var hi = wlos.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c =
        if (wlos(mid) != a) java.lang.Long.compare(wlos(mid), a)
        else java.lang.Long.compare(whis(mid), b)
      if (c < 0) lo = mid + 1
      else if (c > 0) hi = mid - 1
      else return mid
    }
    -1
  }

  /** One shard × one micro-batch, fully STREAMING: rows are decided one
    * by one against the sorted state arrays plus a batch overlay, and
    * emissions flow through the returned iterator without buffering —
    * per-task memory is O(cap) (the overlay holds only improvements of
    * tracked entries plus pending inserts, never the batch), so an
    * arbitrarily large micro-batch (an unthrottled backfill trigger over
    * the whole corpus) cannot OOM the shard task. State is committed
    * from a terminal flush step: FlatMapGroupsWithState applies
    * `state.update` when the engine exhausts the returned iterator
    * (completion-iterator semantics), so updating from the tail is the
    * documented-safe lazy pattern.
    *
    * Emission semantics per row: tracked-or-overlaid windows emit only
    * strict improvements of the best (id, pos) seen so far; windows past
    * the cap emit EVERY occurrence (not just a batch minimum — there is
    * nowhere bounded to remember one). Both are absorbed exactly by the
    * finish's min-fold; the cap fill is first-come in arrival order
    * (suppression-only state, so nondeterministic fill never touches
    * the answer). Factored out of the closure for direct unit testing.
    */
  private[streaming] def advanceShard(
      rows: Iterator[(Long, Long, Long, Long)],
      state: GroupState[ShardState],
      cap: Int): Iterator[(Long, Long, Long, Long)] = {
    val st = state.getOption.getOrElse(
      ShardState(Array.emptyLongArray, Array.emptyLongArray,
        Array.emptyLongArray, Array.emptyLongArray))
    // (wlo, whi) -> [best id, best pos, slot]; slot ≥ 0 improves a
    // tracked entry, -1 is a pending insert. ≤ tracked + cap entries —
    // the O(cap) bound.
    val overlay = new java.util.HashMap[(Long, Long), Array[Long]]()
    var free = cap - st.wlos.length
    val emissions = rows.flatMap { case (wlo, whi, id, pos) =>
      val key = (wlo, whi)
      val ov = overlay.get(key)
      if (ov != null) {
        if (id < ov(0) || (id == ov(0) && pos < ov(1))) {
          ov(0) = id; ov(1) = pos
          Iterator.single((wlo, whi, id, pos))
        } else Iterator.empty
      } else {
        val slot = searchPair(st.wlos, st.whis, wlo, whi)
        if (slot >= 0) {
          if (id < st.ids(slot) ||
              (id == st.ids(slot) && pos < st.poss(slot))) {
            // a smaller occurrence arrived late: re-emit and improve the
            // cache (the finish fold keeps the min — ADVICE r12 closure)
            overlay.put(key, Array(id, pos, slot.toLong))
            Iterator.single((wlo, whi, id, pos))
          } else Iterator.empty // already-emitted occurrence ≤ this one
        } else {
          if (free > 0) { overlay.put(key, Array(id, pos, -1L)); free -= 1 }
          // past the cap the window stays untracked and every occurrence
          // emits — folded away downstream; state cannot grow past cap
          Iterator.single((wlo, whi, id, pos))
        }
      }
    }
    // `++`'s right side is by-name: the flush runs exactly once, after
    // the engine has drained every emission of this group
    emissions ++ flushOverlay(state, st, overlay)
  }

  /** Terminal flush of [[advanceShard]]'s batch overlay into the shard
    * state: in-place improvements copy-on-write, pending inserts merged
    * into the pair-sorted arrays in one pass.
    */
  private def flushOverlay(
      state: GroupState[ShardState],
      st: ShardState,
      overlay: java.util.HashMap[(Long, Long), Array[Long]]): Iterator[(Long, Long, Long, Long)] = {
    if (!overlay.isEmpty) {
      var ids = st.ids
      var poss = st.poss
      var updated = false
      val inserts =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      overlay.forEach { (key, v) =>
        if (v(2) >= 0) {
          if (!updated) { ids = ids.clone(); poss = poss.clone(); updated = true }
          ids(v(2).toInt) = v(0); poss(v(2).toInt) = v(1)
        } else inserts += ((key._1, key._2, v(0), v(1)))
      }
      if (inserts.nonEmpty) {
        val ins = inserts.sortBy(t => (t._1, t._2)).toArray
        val n = st.wlos.length + ins.length
        val w2 = new Array[Long](n); val h2 = new Array[Long](n)
        val i2 = new Array[Long](n); val p2 = new Array[Long](n)
        var a = 0; var b = 0; var o = 0
        while (o < n) {
          val takeOld = b >= ins.length ||
            (a < st.wlos.length &&
              (st.wlos(a) < ins(b)._1 ||
                (st.wlos(a) == ins(b)._1 && st.whis(a) < ins(b)._2)))
          if (takeOld) {
            w2(o) = st.wlos(a); h2(o) = st.whis(a)
            i2(o) = ids(a); p2(o) = poss(a); a += 1
          } else {
            w2(o) = ins(b)._1; h2(o) = ins(b)._2
            i2(o) = ins(b)._3; p2(o) = ins(b)._4; b += 1
          }
          o += 1
        }
        state.update(ShardState(w2, h2, i2, p2))
      } else if (updated) {
        state.update(ShardState(st.wlos, st.whis, ids, poss))
      }
    }
    Iterator.empty
  }

  /** Exact global first occurrence per window from the raw event stream:
    * the fold that makes suppression-cache eviction and out-of-order
    * ingest invisible.
    */
  def foldFirsts(events: DataFrame): DataFrame =
    events
      .groupBy(col("wlo"), col("whi"))
      .agg(min(struct(col("f_id"), col("f_pos"))).as("f"))
      .select(col("wlo"), col("whi"),
        col("f.f_id").as("f_id"), col("f.f_pos").as("f_pos"))

  /** Run the first-window stream over a finite parquet input, then
    * finish batch-side into the exact [[graft.operators.Dedupe.cutDuplicateSpans]]
    * relation: (doc_id, n_tokens, cut_tokens, text_cut). Defaults to
    * 128-bit identity — this path CUTS text, the batch operator's own
    * production width.
    */
  def runCutOnce(
      spark: SparkSession,
      docsPath: String,
      queryName: String,
      idCol: String,
      textCol: String = "text",
      windowTokens: Int = 20,
      numShards: Int = DefaultShards,
      maxStateWindowsPerShard: Int = DefaultShardCap,
      hash128: Boolean = true): DataFrame = {
    val events = EventStream.runToMemory(spark, docsPath, queryName,
      firstWindows(_, idCol, textCol, windowTokens, numShards,
        maxStateWindowsPerShard, hash128),
      OutputMode.Append())
    graft.operators.Dedupe.cutFromFirstOccurrences(
      spark.read.parquet(docsPath), idCol, textCol, windowTokens,
      foldFirsts(events), hash128)
  }

  /** Bounded-state streaming twin of the span family's KMV triage
    * (dedup_spans_approx) — the stream_cdc_approx discipline: the
    * substring-duplication estimate run continuously, with streaming
    * state = one sketch buffer (≤ k longs) + a counter REGARDLESS of
    * corpus size. The fixed-state ingest monitor: [[runCutOnce]] answers
    * "emit the exact cut" with a capped suppression cache; this answers
    * only "how much substring duplication is arriving" at fixed state.
    * Exact below k distinct windows; same estimator, arithmetic, and
    * output shape as the batch tier, so both share one oracle.
    */
  def runApproxOnce(
      spark: SparkSession,
      docsPath: String,
      queryName: String,
      textCol: String = "text",
      windowTokens: Int = 20,
      k: Int = graft.functions.KmvSketch.TriageK): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    val agg = EventStream.runToMemory(spark, docsPath, queryName,
      df => approxAgg(df, textCol, windowTokens, k),
      OutputMode.Complete())
    approxFinish(agg)
  }

  /** The twin's streaming aggregation ([[graft.functions.KmvTriage.agg]]
    * over the batch tier's window items), factored so the saturation
    * spec can drive it through an explicit multi-trigger stream (the
    * Complete-mode cross-micro-batch sketch-merge path is distinct from
    * the batch estimator's partial-aggregation merge).
    */
  private[graft] def approxAgg(
      df: DataFrame,
      textCol: String,
      windowTokens: Int,
      k: Int): DataFrame =
    graft.functions.KmvTriage.agg(
      graft.operators.Dedupe.windowHashRows(df, textCol, windowTokens),
      "win", "windows", k)

  /** The batch tier's arithmetic, so both twins land on one oracle relation. */
  private[graft] def approxFinish(agg: DataFrame): DataFrame =
    graft.functions.KmvTriage.finish(agg, "windows")
}
