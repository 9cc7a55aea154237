package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Conf
import graft.cdc.XXH64

/** Minimal primitive long→long open-addressing hash map (linear probing,
  * load factor ≤ 0.5, doubling growth) for executor-side graph kernels —
  * no boxing, no per-entry node objects.
  */
private[operators] final class LongLongMap(initialCapacity: Int)
    extends Serializable {
  private var cap = Integer.highestOneBit(math.max(16, initialCapacity - 1)) * 2
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  private var used = new Array[Boolean](cap)
  private var n = 0

  private def slot(k: Long): Int = {
    var i = (scala.util.hashing.byteswap64(k) & (cap - 1)).toInt
    while (used(i) && keys(i) != k) i = (i + 1) & (cap - 1)
    i
  }

  def contains(k: Long): Boolean = used(slot(k))

  /** Value for `k`; the key MUST be present (kernel-internal contract). */
  def apply(k: Long): Long = vals(slot(k))

  def put(k: Long, v: Long): Unit = {
    var i = slot(k)
    if (!used(i)) {
      used(i) = true; keys(i) = k; n += 1
      if (n * 2 > cap) {
        grow()
        // only a grow invalidates the probed slot — re-probe then, not
        // on every call (same discipline as LongPairMap.put)
        i = slot(k)
      }
    }
    vals(i) = v
  }

  private def grow(): Unit = {
    val (ok, ov, ou) = (keys, vals, used)
    cap *= 2
    keys = new Array[Long](cap); vals = new Array[Long](cap)
    used = new Array[Boolean](cap); n = 0
    var i = 0
    while (i < ok.length) {
      if (ou(i)) put(ok(i), ov(i))
      i += 1
    }
  }

  def keysIterator: Iterator[Long] = used.iterator.zipWithIndex.collect {
    case (true, i) => keys(i)
  }
}

/** [[LongLongMap]]'s 128-bit-keyed sibling: (long, long) key → optional
  * (long, long) value, open addressing, linear probing, load ≤ 0.5. The
  * span operators' 128-bit window-identity mode keys on (lo, hi) hash
  * halves (mirroring the chunk relation's ChunkRow128 discipline);
  * `withValues = false` skips the value arrays for set-only use, halving
  * the broadcast.
  */
private[operators] final class LongPairMap(
    initialCapacity: Int,
    withValues: Boolean) extends Serializable {
  private var cap = Integer.highestOneBit(math.max(16, initialCapacity - 1)) * 2
  private var k1 = new Array[Long](cap)
  private var k2 = new Array[Long](cap)
  private var used = new Array[Boolean](cap)
  private var v1 = if (withValues) new Array[Long](cap) else null
  private var v2 = if (withValues) new Array[Long](cap) else null
  private var n = 0

  private def slot(a: Long, b: Long): Int = {
    var i = ((scala.util.hashing.byteswap64(a) ^
      scala.util.hashing.byteswap64(b + 0x9E3779B97F4A7C15L)) & (cap - 1)).toInt
    while (used(i) && (k1(i) != a || k2(i) != b)) i = (i + 1) & (cap - 1)
    i
  }

  /** Slot of (a, b), or -1 when absent — one probe serves a membership
    * test and value reads via [[val1At]]/[[val2At]]. */
  def indexOf(a: Long, b: Long): Int = {
    val i = slot(a, b)
    if (used(i)) i else -1
  }

  /** Values at a slot returned by [[indexOf]] (≥ 0; withValues only). */
  def val1At(i: Int): Long = v1(i)
  def val2At(i: Int): Long = v2(i)

  def put(a: Long, b: Long, x: Long, y: Long): Unit = {
    var i = slot(a, b)
    if (!used(i)) {
      used(i) = true; k1(i) = a; k2(i) = b; n += 1
      if (n * 2 > cap) {
        grow()
        // only a grow invalidates the probed slot — re-probe then,
        // not on every call (the build-side map sees millions of puts)
        if (withValues) i = slot(a, b)
      }
    }
    if (withValues) {
      v1(i) = x; v2(i) = y
    }
  }

  private def grow(): Unit = {
    val (ok1, ok2, ov1, ov2, ou) = (k1, k2, v1, v2, used)
    cap *= 2
    k1 = new Array[Long](cap); k2 = new Array[Long](cap)
    used = new Array[Boolean](cap)
    if (withValues) { v1 = new Array[Long](cap); v2 = new Array[Long](cap) }
    n = 0
    var i = 0
    while (i < ok1.length) {
      if (ou(i)) put(ok1(i), ok2(i),
        if (withValues) ov1(i) else 0L, if (withValues) ov2(i) else 0L)
      i += 1
    }
  }
}

/** Deduplication operators for training-data pipelines, from exact to
  * approximate:
  *
  *   - exact: fingerprint groupBy (one shuffle, the A1 merge shape)
  *   - MinHash + LSH banding: shingle → signature → band buckets →
  *     candidate pairs → exact Jaccard verify
  *   - SimHash: 64-bit signature, block-match candidate generation
  *     (pigeonhole over 4×16-bit blocks guarantees recall at hamming ≤ 3)
  *   - n-gram Jaccard: exact pairwise verify on candidates only — the
  *     O(n²) cross join never materializes at scale
  *
  * Scale notes: signatures are computed per-row in one narrow pass (UDF
  * over the token set — no explode/pivot shuffle); candidate generation
  * shuffles on (band, bucket-hash) whose cardinality ≈ docs × bands; the
  * verify join is keyed by candidate pair, proportional to true-ish pairs,
  * not n².
  *
  * Every operator here that knows its wide stage's row count (band,
  * gram, span-window and block exchanges) builds that stage in
  * [[graft.Conf.sizedSession]]: inputs are re-bound into it, the eager
  * cache/count/collect work runs there, and the returned relation is
  * re-bound to the caller's session. No operator writes the session it
  * was handed.
  */
object Dedupe {

  /** Largest bucket full-recall mode will pair without degrading — the
    * runtime ceiling behind `maxBucketSize = Int.MaxValue` in every
    * [[BucketPairs]] operator.
    * 4096 members clique to ≤ 8.4M within-bucket pairs — heavy but
    * bounded; anything larger means the fingerprint has collapsed and
    * full recall would be quadratic, so the call fails loudly instead.
    */
  val fullRecallBucketLimit: Long = 4096L

  // ----------------------------------------------------------- exact dedup

  /** Exact duplicate classes by content hash: canonical = min id per class.
    * `keyExpr` defaults to the full text; pass a normalized/prefix
    * expression for near-exact variants.
    */
  def exactDuplicates(df: DataFrame, idCol: String, keyCol: Column): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    df.withColumn("fp", md5(keyCol.cast("binary")))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("is_dup", col(idCol) =!= col("canonical_id"))
  }

  // ------------------------------------------------------------- shingling

  def wordShingles(text: String, k: Int): Set[Long] = {
    if (text == null) Set.empty
    else {
      val words = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      if (words.length < k) {
        if (words.isEmpty) Set.empty
        else Set(XXH64.hash(words.mkString(" ").getBytes("UTF-8"), 42L))
      } else
        words
          .sliding(k)
          .map(s => XXH64.hash(s.mkString(" ").getBytes("UTF-8"), 42L))
          .toSet
    }
  }

  // --------------------------------------------------------------- minhash

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private val MaxHashes = 256
  // one affine permutation per signature slot: h_i(s) = a_i*s + b_i mod 2^64
  // with odd a_i (a bijection on Z/2^64). Deterministic, seed-derived.
  private val PermA: Array[Long] =
    Array.tabulate(MaxHashes)(i => splitmix64(0xA11CE5EEDL + i.toLong) | 1L)
  private val PermB: Array[Long] =
    Array.tabulate(MaxHashes)(i => splitmix64(0xB0B5EED42L + i.toLong))

  /** MinHash signature: h_i = min over shingles of the i-th affine
    * permutation of the shingle hash — ONE xxh64 per shingle (paid in
    * `wordShingles`) plus numHashes multiply-adds, instead of numHashes
    * independent xxh64 calls (~64× less hashing on the hot path). Affine
    * families are the standard cheap MinHash permutations (Broder'97
    * universe-permutation approximated by 2-universal hashing).
    */
  def minhashSignature(shingles: Set[Long], numHashes: Int): Array[Long] = {
    require(numHashes <= MaxHashes, s"numHashes must be <= $MaxHashes")
    val sig = Array.fill(numHashes)(Long.MaxValue)
    shingles.foreach { s =>
      var i = 0
      while (i < numHashes) {
        val h = PermA(i) * s + PermB(i)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Intersection size of two ASCENDING-sorted long arrays by linear
    * merge — allocation-free, O(|a|+|b|). Every shingle relation in this
    * file sorts its arrays at construction (minhashSigRelation), which
    * is what makes the merge walk valid; Array.intersect would build a
    * boxed occurrence map per pair (measured 3-4x slower on the
    * all-pairs eval truth).
    */
  private[graft] def sortedIntersectCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  /** The (id, shingles, sig) signature relation — the shared kernel of the
    * batch and incremental MinHash paths. Narrow, one pass.
    */
  private def minhashSigRelation(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      numHashes: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val sh = wordShingles(text, shingleK)
        (id, sh.toArray.sorted, minhashSignature(sh, numHashes))
      }
      .toDF("id", "shingles", "sig")
  }

  /** Bucket key of band `b`: xxh64 over the band's signature slice in
    * little-endian bytes — THE banding function, shared by the batch,
    * incremental, and streaming MinHash paths (identical bucket keys are
    * what lets their oracles join on signature slices).
    */
  def bandBucket(sig: Array[Long], b: Int, rowsPerBand: Int): Long = {
    val slice = sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
    val bytes = new Array[Byte](slice.length * 8)
    var i = 0
    while (i < slice.length) {
      var j = 0
      while (j < 8) { bytes(i * 8 + j) = (slice(i) >>> (8 * j)).toByte; j += 1 }
      i += 1
    }
    XXH64.hash(bytes, 7L)
  }

  /** (band, bucket, id) LSH band relation: bucket key = hash of the band's
    * signature slice.
    */
  private def bandRelation(sigDf: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val spark = sigDf.sparkSession
    import spark.implicits._
    sigDf
      .select(col("id"), col("sig"))
      .as[(Long, Array[Long])]
      .flatMap { case (id, sig) =>
        (0 until bands).iterator.map(b => (b, bandBucket(sig, b, rowsPerBand), id))
      }
      .toDF("band", "bucket", "id")
  }

  /** MinHash-LSH near-duplicate pairs: band buckets give the candidates
    * ([[BucketPairs]]), shingle sets verify them.
    * @return (id_a, id_b, est_jaccard, jaccard) — est from signature
    *         agreement, exact from shingle sets, both per candidate pair.
    * @param maxBucketSize LSH skew guard: a band bucket holding B docs
    *   contributes B² candidate pairs, so one hot bucket (thousands of
    *   identical boilerplate docs) turns the candidate join quadratic.
    *   Over-cap buckets degrade from clique to STAR candidates — every
    *   member pairs with the bucket's min id only (B-1 pairs) — so giant
    *   duplicate clusters, whose docs collide in ALL bands, still surface
    *   through their canonical member instead of vanishing.
    *   `Int.MaxValue` is full-recall mode, which refuses a bucket past
    *   [[fullRecallBucketLimit]].
    * @param sigSink optional hook applied to the signature relation
    *   (id, shingles, sig) before use — the catalog passes a
    *   persist-and-read-back function here so the DuckDB oracle can
    *   recompute banding/est/jaccard from the exact signatures this run
    *   used (band-bucket equality == signature-slice equality modulo
    *   xxh64 bucket-key collisions, so the oracle joins on slices).
    *   PRECONDITION for that parity: no band bucket exceeds
    *   `maxBucketSize` — over-cap buckets degrade to star pairs, which a
    *   plain slice-equality oracle does not model. Holds trivially at the
    *   driver's verification SF (bucket size is bounded by corpus size).
    * @param precomputedSigs an already-built (and typically cached)
    *   signature relation from [[minhashSigRelation]]'s contract
    *   (id, shingles, sig) — the operator then skips its own signature
    *   pass AND leaves the caller's cache alone (minhashRecallEval shares
    *   one pass between ground truth and banding).
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucketSize: Int = 2000,
      sigSink: DataFrame => DataFrame = identity,
      precomputedSigs: Option[DataFrame] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands

    val externalSigs = precomputedSigs.isDefined
    val docs0 = precomputedSigs.getOrElse(
      sigSink(minhashSigRelation(df, idCol, textCol, shingleK, numHashes))
        .cache())

    // Input-sized band exchange (same 100 TB discipline as the chunk
    // estimator, Conf.scala preamble): the (band, bucket) shuffle carries
    // n_docs × bands rows, and a session default sized for local[32] would
    // put the whole corpus's banding in a handful of reduce partitions.
    // Counting the cached signature relation materializes a cache every
    // later step reads anyway, so the probe is one narrow cached scan.
    val nDocs = docs0.count()
    val sized = Conf.sizedSession(spark,
      math.multiplyExact(nDocs, bands.toLong), Conf.BandRowShuffleBytes)
    val docs = GraftBridge.rebind(docs0, sized)

    // band → bucket key = hash of the band's signature slice
    val banded = bandRelation(docs, bands, rowsPerBand)

    val buckets = BucketPairs("minhashPairs", banded, Seq("band", "bucket"),
      maxBucketSize, (if (externalSigs) Nil else Seq(docs)): _*)
    val verified = buckets.pairs().distinct()
      .join(docs.select(col("id").as("id_a"), col("shingles").as("sh_a"),
        col("sig").as("sig_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("shingles").as("sh_b"),
        col("sig").as("sig_b")), "id_b")
      // USING joins move the key column first; pin the order before decode
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sig_a"), col("sh_b"), col("sig_b"))
      .as[(Long, Long, Array[Long], Array[Long], Array[Long], Array[Long])]
      .map { case (a, b, shA, sigA, shB, sigB) =>
        val inter = sortedIntersectCount(shA, shB)
        val union = shA.length + shB.length - inter
        val jac = if (union == 0) 0.0 else inter.toDouble / union
        val est = sigA.zip(sigB).count { case (x, y) => x == y }.toDouble / sigA.length
        (a, b, est, jac)
      }
      .toDF("id_a", "id_b", "est_jaccard", "jaccard")
    buckets.materialize(verified.filter(col("jaccard") >= threshold), spark)
  }

  /** Incremental (batch-over-index) MinHash near-dup classification — the
    * near-duplicate twin of [[IncrementalDedup.classify]]: classify an
    * incoming batch against the signature index of an already-kept corpus
    * ("is tonight's crawl a near-copy of anything we already have?").
    * Every batch row returns as
    *   - `neardup` — some index doc verifies at Jaccard ≥ threshold; the
    *     reported match is the highest-Jaccard one (ties → smallest
    *     index id), with its exact Jaccard
    *   - `new`     — no index candidate survives verification
    *
    * Scale shape: bands of BOTH sides shuffle once on (band, bucket) —
    * candidates are batch×index bucket matches only, never index
    * self-pairs, so a 100 TB index costs its banding scan, not its
    * pair count. Hot index buckets (boilerplate) degrade to their min-id
    * canonical member over `maxBucketSize` — same star discipline as
    * [[minhashPairs]], bounded candidates per batch doc per band; full
    * recall (`Int.MaxValue`) refuses an index bucket past
    * [[fullRecallBucketLimit]].
    * Deployment shape at scale: the index signature relation is computed
    * once and PERSISTED (it is `indexSigSink`'s output — parquet it);
    * re-banding cached signatures per batch is a narrow scan, no
    * re-shingling of the corpus.
    */
  def minhashClassify(
      incoming: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucketSize: Int = 2000,
      batchSigSink: DataFrame => DataFrame = identity,
      indexSigSink: DataFrame => DataFrame = identity): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands

    val batchDocs0 = batchSigSink(
      minhashSigRelation(incoming, idCol, textCol, shingleK, numHashes)).cache()
    val idxDocs0 = indexSigSink(
      minhashSigRelation(index, idCol, textCol, shingleK, numHashes)).cache()

    // input-sized band exchange, same discipline as minhashPairs: both
    // sides shuffle on (band, bucket); the counts materialize the caches
    // every later step reads anyway
    val spark = incoming.sparkSession
    val nSigs = batchDocs0.count() + idxDocs0.count()
    val sized = Conf.sizedSession(spark,
      math.multiplyExact(nSigs, bands.toLong), Conf.BandRowShuffleBytes)
    val batchDocs = GraftBridge.rebind(batchDocs0, sized)
    val idxDocs = GraftBridge.rebind(idxDocs0, sized)

    val batchBands = bandRelation(batchDocs, bands, rowsPerBand)
    val idxBands = bandRelation(idxDocs, bands, rowsPerBand)

    // index-side skew guard: an over-cap bucket is represented by its min
    // id only (the canonical member a giant duplicate cluster surfaces
    // through); small buckets join in full. Oracle parity precondition:
    // no index bucket exceeds the cap at verification SF.
    val idxBuckets = BucketPairs("minhashClassify", idxBands,
      Seq("band", "bucket"), maxBucketSize, batchDocs, idxDocs)
    val idxCapped = idxBuckets.small.select(col("band"), col("bucket"), col("id"))
      .unionByName(idxBuckets.centers()
        .select(col("band"), col("bucket"), col("center.id").as("id")))

    val candidates = batchBands
      .join(idxCapped.withColumnRenamed("id", "match_id"), Seq("band", "bucket"))
      .select(col("id"), col("match_id"))
      .distinct()

    import spark.implicits._
    val verified = candidates
      .join(batchDocs.select(col("id"), col("shingles").as("sh_a")), "id")
      .join(idxDocs.select(col("id").as("match_id"), col("shingles").as("sh_b")),
        "match_id")
      .select(col("id"), col("match_id"), col("sh_a"), col("sh_b"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, shA, shB) =>
        val inter = sortedIntersectCount(shA, shB)
        val union = shA.length + shB.length - inter
        (a, b, if (union == 0) 0.0 else inter.toDouble / union)
      }
      .toDF("id", "match_id", "jaccard")

    // best surviving match per batch doc: highest Jaccard, ties to the
    // smallest index id — one k-bounded aggregate, no window sort
    val best = verified
      .filter(col("jaccard") >= threshold)
      .groupBy(col("id"))
      .agg(max(struct(col("jaccard").as("j"), (-col("match_id")).as("nid"))).as("m"))
      .select(col("id"), (-col("m.nid")).as("match_id"), col("m.j").as("jaccard"))

    val result = batchDocs.select(col("id"))
      .join(best, Seq("id"), "left")
      .select(col("id"),
        when(col("match_id").isNotNull, lit("neardup")).otherwise(lit("new"))
          .as("status"),
        col("match_id"), col("jaccard"))
    idxBuckets.materialize(result, spark)
  }

  // -------------------------------------------------------- n-gram jaccard

  /** Distinct word k-gram hashes of one document — the shared gram kernel
    * (ngram Jaccard, decontamination). Lowercased single-space split;
    * < k words degrade to one whole-text gram (the SQL oracles' ELSE
    * branch); null/empty → empty. Hash identity == gram-string identity
    * modulo xxh64 collisions.
    */
  def wordGramHashes(text: String, k: Int): Array[Long] = {
    if (text == null) Array.emptyLongArray
    else {
      val words = text.toLowerCase(java.util.Locale.ROOT).split(" ").filter(_.nonEmpty)
      if (words.length == 0) Array.emptyLongArray
      else {
        val grams = new java.util.HashSet[java.lang.Long]()
        if (words.length >= k) {
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i + k <= words.length) {
            sb.setLength(0)
            var j = 0
            while (j < k) {
              if (j > 0) sb.append(' ')
              sb.append(words(i + j))
              j += 1
            }
            grams.add(XXH64.hash(
              sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8), 42L))
            i += 1
          }
        } else {
          grams.add(XXH64.hash(
            words.mkString(" ").getBytes(java.nio.charset.StandardCharsets.UTF_8), 42L))
        }
        val out = new Array[Long](grams.size)
        val it = grams.iterator(); var i = 0
        while (it.hasNext) { out(i) = it.next().longValue; i += 1 }
        out
      }
    }
  }

  /** The (id, n_grams, gram) relation over a corpus — one row per DISTINCT
    * word k-gram per document, with the document's full distinct-gram
    * count alongside. The shared projection under ngram Jaccard and
    * decontamination; one tight kernel per document, no Generate node
    * (see the expression-chain rationale in [[ngramJaccardPairs]]).
    */
  private[operators] def gramRows(
      df: DataFrame,
      idExpr: Column,
      textExpr: Column,
      k: Int): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    df.select(idExpr.cast("long"), textExpr.cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val grams = wordGramHashes(text, k)
        val n = grams.length
        grams.iterator.map(g => (id, n, g))
      }
      .toDF("id", "n_grams", "gram")
  }

  /** Substrate of [[containmentPairs]]' PPJoin-style prefix filter: the
    * cached per-doc
    * gram-array relation `(id, n_grams, order_grams, sorted_grams)` with
    * grams capped at `maxGramFreq` and ordered two ways — global
    * ascending (document frequency, gram) for prefix/index views, plain
    * hash order for the sorted-intersect verification kernel.
    *
    * The gram kernel runs ONCE: per-DOC arrays persist (corpus-
    * proportional — the same scale class as the exploded relation, in
    * fewer rows) and every downstream view explodes from the cache. Two
    * builds, picked by the Σ n_grams probe:
    *
    *  - BROADCAST (≤ `broadcastGramDfLimit` total grams, so distinct
    *    grams are bounded too): the df aggregation's output collects to a
    *    primitive long→long map and broadcasts; perDoc is then a fully
    *    NARROW map over the cached per-doc arrays — zero wide exchanges,
    *    no per-gram rows ever shuffle. The standard broadcast-the-small-
    *    dim discipline, decided from measured input stats, not a guess.
    *  - SHUFFLE (the 100 TB path, where the gram dictionary outgrows the
    *    driver): window df count over the gram partition, then the per-id
    *    fold — exactly two wide input-sized exchanges. Grams are per-doc
    *    distinct (wordGramHashes dedupes), so the occurrence count IS
    *    document frequency; both builds agree exactly. A zero limit is
    *    the explicit force-shuffle sentinel.
    *
    * The gram exchanges carry Σ n_grams rows, so both relations come back
    * bound to [[Conf.sizedSession]] for that count (Conf.scala preamble):
    * the caller builds on them there and re-binds its result to its own
    * session. Returns (docGrams, perDoc); the CALLER unpersists both.
    */
  private def perDocGramRelation(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      maxGramFreq: Long,
      broadcastGramDfLimit: Long): (DataFrame, DataFrame) = {
    val caller = df.sparkSession
    import caller.implicits._
    val docGrams0 = df
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val g = wordGramHashes(text, k)
        (id, g.length, g)
      }
      .toDF("id", "n_grams", "grams")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the probe aggregates the per-doc cache it materializes anyway, so
    // sizing costs one cached scan
    val sumGrams = docGrams0
      .agg(coalesce(sum(col("n_grams").cast("long")), lit(0L)))
      .as[Long].head()
    val session = Conf.sizedSession(caller, sumGrams, Conf.GramRowShuffleBytes)
    val docGrams = GraftBridge.rebind(docGrams0, session)
    val exploded = docGrams.select(col("id"), col("n_grams"),
      explode(col("grams")).as("gram"))
    // 0 is the explicit force-shuffle sentinel (same contract as the
    // span/line families): the fallback runs even on an empty gram set
    val perDoc = (if (broadcastGramDfLimit > 0 && sumGrams <= broadcastGramDfLimit) {
      val dfRows = exploded
        .groupBy(col("gram")).agg(count(lit(1)).as("gram_df"))
        .as[(Long, Long)].collect()
      val dfMap = new LongLongMap(dfRows.length * 2 + 16)
      dfRows.foreach { case (g, c) => dfMap.put(g, c) }
      val bcDf = session.sparkContext.broadcast(dfMap)
      val cap = maxGramFreq
      docGrams
        .as[(Long, Int, Array[Long])]
        .map { case (id, nGrams, grams) =>
          val m = bcDf.value
          val gs = grams.iterator
            .map(g => (m(g), g)).filter(_._1 <= cap).toArray
          val order = gs.sorted.map(_._2)
          (id, nGrams, order, order.sorted)
        }
    } else {
      exploded
        .withColumn("gram_df",
          count(lit(1)).over(Window.partitionBy(col("gram"))))
        .filter(col("gram_df") <= maxGramFreq)
        .groupBy(col("id"))
        .agg(first(col("n_grams")).as("n_grams"),
          collect_list(struct(col("gram_df").as("_1"), col("gram").as("_2")))
            .as("gs"))
        .as[(Long, Int, Array[(Long, Long)])]
        .map { case (id, nGrams, gs) =>
          val order = gs.sorted.map(_._2)
          (id, nGrams, order, order.sorted)
        }
    })
      .toDF("id", "n_grams", "order_grams", "sorted_grams")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (docGrams, perDoc)
  }

  /** Exact-verification finisher of [[containmentPairs]]: join the
    * (small, distinct) candidate pairs back to the per-doc arrays and
    * count the overlap with the allocation-free sorted-merge kernel —
    * each doc's grams move once, where the explode-style alternative
    * reshuffles |cand|·|doc| gram rows.
    */
  private def verifyPairsByIntersect(
      cand: DataFrame,
      perDoc: DataFrame): DataFrame = {
    val session = cand.sparkSession
    import session.implicits._
    cand
      .join(perDoc.select(col("id").as("id_a"), col("sorted_grams").as("ga"),
        col("n_grams").as("na")), "id_a")
      .join(perDoc.select(col("id").as("id_b"), col("sorted_grams").as("gb"),
        col("n_grams").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("ga"), col("gb"),
        col("na"), col("nb"))
      .as[(Long, Long, Array[Long], Array[Long], Int, Int)]
      .map { case (a, b, ga, gb, na, nb) =>
        (a, b, sortedIntersectCount(ga, gb).toLong, na, nb)
      }
      .toDF("id_a", "id_b", "n_common", "na", "nb")
  }

  /** Exact n-gram Jaccard pairs via inverted-index join (the classic
    * set-similarity-join shape): explode distinct word k-grams, self-join
    * on gram, count common per pair, Jaccard from integer set sizes. Unlike
    * the signature-based ops this is fully relational — every step is
    * SQL-expressible, so it carries a DuckDB oracle.
    *
    * Scale: the shuffle is |distinct grams per doc| rows; `maxGramFreq`
    * prunes stopword-like grams that appear in more than that many docs
    * (each contributes df² pair-occurrences) — same skew rationale as the
    * LSH bucket cap. Default ∞ keeps oracle parity; set it at scale.
    * `maxGramFreq` drops over-hot grams before the quadratic step while
    * n_grams keeps the FULL distinct count, so a capped run still
    * estimates true Jaccard and only loses pairs whose entire overlap is
    * hot grams.
    *
    * Candidates come from the direct gram self-join: the exploded
    * (id, n_grams, gram) relation shuffles ONCE on gram and Spark's
    * ReusedExchange serves both join sides; each gram bucket streams
    * |bucket|² candidates through the join's spillable buffer (a hot gram
    * degrades to a slow task, never an OOM), and one pair-keyed count
    * finishes the job. Cost is Σ_g df(g)² — right whenever the df
    * distribution is benign (natural corpora after `maxGramFreq`: the cap
    * drops stopword-like grams and is the hard guardrail).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      threshold: Double = 0.5,
      maxGramFreq: Long = Long.MaxValue): DataFrame = {
    // Grams are IDENTIFIED BY HASH from the start: each distinct word
    // k-gram string hashes to one xxh64 value — hash equality equals
    // gram-string equality modulo 2^-64 collisions (immaterial); short
    // docs (< k words) contribute one whole-text gram like the oracle's
    // ELSE branch; null/empty docs contribute nothing.
    //
    // The gram pass is a TYPED KERNEL (flatMap), not a column-expression
    // chain, deliberately: the equivalent higher-order-function expression
    // (split → transform(xxhash64) → transform(sequence…) → array_distinct
    // → explode) is a pathological citizen — InferFiltersFromGenerate +
    // predicate pushdown inline the whole thing into an inferred
    // `size(g)>0` filter (3× per-row evaluation, measured 4× slower), and
    // its generated code takes seconds to janino-compile per executor. The
    // kernel is one tight loop per document, no Generate node at all.
    val gsetsAll = gramRows(df, col(idCol), col(textCol), k)
    val gsets =
      if (maxGramFreq == Long.MaxValue) gsetsAll
      else gsetsAll.join(
        gsetsAll.groupBy(col("gram")).agg(count(lit(1)).as("gram_df"))
          .filter(col("gram_df") <= maxGramFreq).select(col("gram")),
        "gram")
    val pairCounts = gsets.as("l")
      .join(gsets.as("r"),
        col("l.gram") === col("r.gram") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"),
        first(col("l.n_grams")).as("na"), first(col("r.n_grams")).as("nb"))
    // containment (|A∩B|/|A|) catches "B embeds A" pairs whose Jaccard is
    // diluted by the larger doc — the asymmetric signal dedup policies use
    val result = pairCounts
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")).cast("double"))
      .withColumn("containment_a", col("n_common").cast("double") / col("na").cast("double"))
      .withColumn("containment_b", col("n_common").cast("double") / col("nb").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("containment_a"), col("containment_b"))
      .cache()
    result.count()
    result
  }

  /** Containment near-dup pairs — the ASYMMETRIC complement of
    * [[ngramJaccardPairs]]: C(A,B) = |grams(A) ∩ grams(B)| / |grams(A)|,
    * and a pair qualifies when EITHER direction reaches `thresholdBp`
    * basis points. Jaccard dilutes "B embeds A" (an excerpt inside a
    * fuller document scores J ≈ |A|/|B|), so a Jaccard-thresholded pass
    * never sees sub-document duplication; containment is the signal
    * curation policies use to drop excerpts, quote-wrappers, and
    * boilerplate-padded copies (the MinHash-era dedup literature's
    * containment join, Broder'97's resemblance-vs-containment split).
    *
    * All decisions are integer: containment is `n_common·10000 div n`
    * basis points, so the engine row set is exactly reproducible by the
    * DuckDB oracle with no float comparison anywhere.
    *
    * Candidates come from the asymmetric prefix filter (the public
    * All-Pairs / PPJoin family: Bayardo et al. WWW'07; Xiao et al.
    * WWW'08): each document's grams are ordered by ascending global
    * document frequency (ties by gram value — a total order), and only
    * the CONTAINED side is prefix-restricted. C(X,·) ≥ t forces overlap
    * c ≥ ⌈t·|X|⌉ (integer form: (thresholdBp·|X| + 9999) div 10000), and
    * in that order the smallest shared gram sits inside X's first
    * |X| − c + 1 grams — so prefix(X) ⋈ ALL-grams index finds every
    * qualifying pair with X contained; both directions come out of the
    * ONE join because every document plays the contained role on the
    * prefix side. Candidates are then exact-verified over all (capped)
    * grams, so the prefix pass only prunes, never decides. Hot grams sort
    * to the end of documents and out of prefixes, so the Σ df(g)² term of
    * a direct gram self-join collapses to the rare-gram buckets.
    * `broadcastGramDfLimit` picks the document-frequency build of
    * [[perDocGramRelation]] (0 forces the shuffle build).
    *
    * `maxGramFreq` keeps n_grams at the FULL distinct count while capping
    * join fanout, so capped runs under-count only pairs whose entire
    * overlap is hot grams (and the oracle mirrors the cap).
    *
    * @return (id_a, id_b, n_common, na, nb, cont_a_bp, cont_b_bp,
    *         relation) with id_a < id_b and relation ∈
    *         {a_in_b, b_in_a, mutual}
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      thresholdBp: Long = 9000L,
      maxGramFreq: Long = Long.MaxValue,
      broadcastGramDfLimit: Long = 4L * 1000 * 1000): DataFrame = {
    require(thresholdBp >= 1L && thresholdBp <= 10000L,
      s"thresholdBp must be in [1, 10000], got $thresholdBp")
    // cached per-doc arrays + broadcast/shuffle df build + input-sized
    // exchanges
    val (docGrams, perDoc) = perDocGramRelation(
      df, idCol, textCol, k, maxGramFreq, broadcastGramDfLimit)
    // required overlap from the FULL gram count (cap-safe: capping only
    // lengthens prefixes), ceil division in pure integers
    val cMin = call_function("div",
      lit(thresholdBp) * col("n_grams") + lit(9999L), lit(10000L))
    val sized = perDoc
      .withColumn("n_capped", size(col("order_grams")).cast("long"))
      .withColumn("c_min", cMin)
    val prefix = sized
      .select(col("id"), col("n_capped"), col("c_min"),
        posexplode(slice(col("order_grams"), lit(1),
          greatest(lit(0L), col("n_capped") - col("c_min") + lit(1L))
            .cast("int"))))
      .select(col("id"), (col("pos") + 1).cast("long").as("rank"),
        col("col").as("gram"), col("n_capped"), col("c_min"))
    val index = sized
      .select(col("id"), col("n_capped"), posexplode(col("order_grams")))
      .select(col("id"), (col("pos") + 1).cast("long").as("r_rank"),
        col("col").as("gram"), col("n_capped").as("r_n"))
    // contained-side prefix ⋈ full index; normalize to id_a < id_b (the
    // one join covers both directions because every doc takes the
    // contained role on the prefix side). The PPJoin POSITIONAL filter
    // (Xiao et al. WWW'08 §3.2, adapted to containment) prunes matched
    // occurrences before the distinct: grams after this match number
    // n_capped − rank per side, so the capped overlap through THIS gram
    // is ≤ 1 + min(remaining_l, remaining_r). For a pair qualifying in
    // the l-contained direction the bound holds with room at the pair's
    // SMALLEST shared gram (no common gram precedes it), so that
    // occurrence always survives — the filter only drops occurrences
    // that could not have carried a qualifying overlap, never the pair.
    // SHUFFLE_HASH on the (smaller) prefix side: the default sort-merge
    // join would sort BOTH gram-keyed relations (Σ grams-scale rows);
    // a per-partition hash build of the prefix side fits memory by
    // construction once the exchange is input-sized (64 MiB target
    // partitions, see perDocGramRelation above). AQE still
    // upgrades to a broadcast join at runtime when the built prefix
    // side measures under the broadcast threshold.
    //
    // SKEW CAVEAT (the hash build cannot spill): the 64 MiB target is a
    // corpus AVERAGE, and the join key is the gram, so one hot gram's
    // build bucket could in principle concentrate a partition far past
    // it. Three layers keep that theoretical at this join: (1) the
    // build side is the df-ASCENDING PREFIX — a gram lands in a doc's
    // prefix only when the doc has almost no rarer gram, so a
    // partition-scale bucket (~2M prefix occurrences of ONE gram)
    // requires millions of near-identical docs, a corpus the pipeline
    // discipline dedupes exactly BEFORE near-dup pairing (and whose
    // candidate-pair volume would be the real failure, not the build);
    // (2) `maxGramFreq`, when set, hard-caps any bucket at the cap;
    // (3) AQE skew-join (`spark.sql.adaptive.skewJoin.*`, on by
    // default) splits an oversized shuffled-hash build partition at
    // runtime, replicating the probe side across the splits — the
    // spill-free build is bounded even when (1) is violated with AQE
    // on. Running AQE-off on an un-pre-deduped corpus with unbounded
    // maxGramFreq is the one unguarded combination: set maxGramFreq.
    val cand = prefix.hint("SHUFFLE_HASH").as("l")
      .join(index.as("r"),
        col("l.gram") === col("r.gram") && col("l.id") =!= col("r.id") &&
          lit(1L) + least(col("l.n_capped") - col("l.rank"),
            col("r.r_n") - col("r.r_rank")) >= col("l.c_min"))
      .select(least(col("l.id"), col("r.id")).as("id_a"),
        greatest(col("l.id"), col("r.id")).as("id_b"))
      .distinct()
    val bpA = call_function("div", col("n_common") * lit(10000L),
      col("na").cast("long"))
    val bpB = call_function("div", col("n_common") * lit(10000L),
      col("nb").cast("long"))
    val result = verifyPairsByIntersect(cand, perDoc)
      .withColumn("cont_a_bp", bpA)
      .withColumn("cont_b_bp", bpB)
      .filter(greatest(col("cont_a_bp"), col("cont_b_bp")) >= thresholdBp)
      .withColumn("relation",
        when(col("cont_a_bp") >= thresholdBp &&
          col("cont_b_bp") >= thresholdBp, lit("mutual"))
          .when(col("cont_a_bp") >= thresholdBp, lit("a_in_b"))
          .otherwise(lit("b_in_a")))
      .select(col("id_a"), col("id_b"), col("n_common"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
        col("cont_a_bp"), col("cont_b_bp"), col("relation"))
    // perDoc feeds four consumers; materialize the (small) pair result
    // before releasing it — tracked so harness loops can release
    SessionCaches.track(result.cache())
    result.count()
    perDoc.unpersist()
    docGrams.unpersist()
    GraftBridge.rebind(result, df.sparkSession)
  }

  // ------------------------------------------------- exact substring spans
  //
  // Every span operator is one pipeline: the shared front half, its own
  // duplicated-window aggregate, the shared back half, and its own narrow
  // finish.
  //
  //  - FRONT HALF ([[withSpanWindows]]): one narrow kernel turns each
  //    document into its rolling window hashes in positional order
  //    (window identity = the window's word sequence; hashes collide
  //    with probability 2^-64, or 2^-128 in `hash128` mode). The per-doc
  //    arrays persist, one aggregate over the cache probes Σ windows,
  //    and the relation is re-bound into the session sized for that many
  //    window rows. The corpus tokenizes and hashes exactly ONCE: the
  //    probe, the operator's aggregate and its finish all read the cache.
  //    The finish's result is materialized and cache-tracked
  //    ([[SessionCaches]]); the window cache is released after it, and
  //    also when anything fails.
  //  - BACK HALF ([[redundantWindows]]): the operator's duplicated-window
  //    relation becomes each document's redundant window positions,
  //    through one of two builds picked from the measured relation size:
  //     - BROADCAST (≤ `broadcastDupLimit` rows): the relation collects
  //       into a primitive [[LongPairMap]] and broadcasts; flagging then
  //       runs fully NARROW over the cached per-doc arrays (window rows
  //       never shuffle at all). The aggregation's exchange carries
  //       map-side-combined partials only.
  //     - SHUFFLE (the 100 TB path): the relation joins back to the
  //       exploded windows on the hash, and one id-keyed fold collects
  //       each document's positions. `broadcastDupLimit = 0` is the
  //       explicit force-shuffle sentinel: the fallback runs, without a
  //       size probe, even when the relation is empty, so the forcing
  //       knob and the parity specs genuinely exercise this path on any
  //       input.
  //    Both builds are spec-pinned identical.
  //  - RUN MERGE ([[mergeRuns]]): consecutive redundant positions merge
  //    into maximal spans (the report and the provenance), or the cut
  //    drops every token a redundant window covers ([[rebuildCutFromPositions]]).

  /** The span operators' default broadcast bound: the duplicated-window
    * relation broadcasts as a [[LongPairMap]] at or below this many rows
    * and takes the shuffle build above it (`0` forces the shuffle build).
    */
  val DefaultBroadcastDupLimit: Long = 4L * 1000 * 1000

  /** Exact-substring duplicate SPANS — the training-data dedup mode the
    * pair operators don't cover (public algorithm class: Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL'22 —
    * their ExactSubstr suffix-array dedup, re-expressed relationally):
    * find, per document, the maximal token spans whose every
    * `windowTokens`-token window occurs somewhere ELSE in the corpus
    * (another document, or another position of the same document). Unlike
    * doc-level near-dup, this catches boilerplate paragraphs, quoted
    * passages and licence blocks embedded in otherwise-unique documents —
    * the spans a curation pipeline CUTS rather than the docs it drops.
    *
    * Relational shape (no suffix array needed for fixed window length):
    * the span pipeline above with a corpus-wide `(hash, count)`
    * aggregation as its duplicated-window relation. Its broadcast set is
    * value-free (keys only — half the map), and every occurrence of a
    * duplicated window is redundant here, the first one included.
    *
    * Window identity width (`hash128`, mirroring the chunk relation's
    * ChunkRow128 option): 64-bit identity is fine for the REPORT — a
    * collision inflates a span marginally — but at ~10¹³ corpus windows
    * the birthday math expects ~10⁶ false-duplicate windows, so 100 TB
    * jobs (and any [[cutDuplicateSpans]] run, where a collision DELETES
    * text) should pass `hash128 = true`: identity becomes two
    * independently-seeded xxh64 halves (collision odds 2⁻¹²⁸ per pair),
    * at +8 B per window in the cache/exchange.
    *
    * @return (doc_id, span_start, span_tokens) — 1-based token index of
    *         the span's first word, and the span's length in tokens
    *         (run_length + windowTokens − 1). Docs with no duplicated
    *         windows contribute no rows. The result is materialized and
    *         cache-tracked ([[SessionCaches]]).
    */
  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 20,
      broadcastDupLimit: Long = DefaultBroadcastDupLimit,
      hash128: Boolean = false): DataFrame =
    duplicateSpansImpl(df, idCol, textCol, windowTokens, broadcastDupLimit,
      hash128, loBits = 64)

  /** [[duplicateSpans]] with the collision-injection knob: `loBits` masks
    * the LOW identity half to that many bits (specs engineer same-lo
    * collisions between different windows this way — a real 64-bit xxh64
    * collision needs 2³² work — and prove the 128-bit mode's high half
    * disambiguates). Production callers always use 64.
    */
  private[graft] def duplicateSpansImpl(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      broadcastDupLimit: Long,
      hash128: Boolean,
      loBits: Int): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val w = windowTokens
    withSpanWindows(df, col(idCol), col(textCol), w, hash128, loBits,
        keepText = false) { wins =>
      val dupHashes = wins.exploded
        .groupBy(col("wlo"), col("whi")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).select(col("wlo"), col("whi"))
      redundantWindows(wins, dupHashes, broadcastDupLimit, keepers = false)(
        r => mergeRuns(r.pos, w).map { case (_, st, tok) => (r.id, st, tok) })
        .toDF("doc_id", "span_start", "span_tokens")
    }
  }

  /** The CUT companion of [[duplicateSpans]] — the dedup ACTION, not just
    * the report (Lee et al. ACL'22 §3, keep-one semantics): every
    * duplicated window keeps its globally EARLIEST occurrence (smallest
    * (doc_id, position), a total order), and every later occurrence's
    * token range is cut from its document. The earliest occurrence is
    * never cut on account of its OWN window; a different overlapping
    * duplicated window's cut may still remove some of its tokens, so in
    * compounded-overlap corners a repeated substring can survive
    * truncated or not at all — the oracle implements the identical rule.
    *
    * The span pipeline with the duplicated-hash → earliest-occurrence
    * relation in the middle; the window cache also carries each
    * document's text, so the rewrite replays from it instead of a second
    * tokenize+hash scan. Under the broadcast build the rewrite is one
    * fully NARROW pass over the cache — nothing but aggregation partials
    * ever shuffles (plan-asserted zero-exchange in DedupeSpec). Above the
    * bound the redundant positions flow through input-sized hash/id
    * exchanges, and the rewrite also moves the document TEXT through one
    * id-keyed hop (one corpus pass over the wire, the standard price of
    * co-locating payload with shuffled derivations; AQE broadcasts the
    * positions side instead whenever it measures small). The cache is
    * corpus-scale by design (text + one long per token, MEMORY_AND_DISK):
    * at 100 TB it spills ~input-sized data to executor disks — size
    * executor storage for the input, as with any cached-scan stage.
    *
    * Identity width: a 64-bit window-hash collision here DELETES innocent
    * text, not just a statistic — run 100 TB-class cuts with
    * `hash128 = true` (see [[duplicateSpans]]; DedupeSpec proves the
    * high half prevents false cuts under engineered lo-collisions).
    *
    * The rewritten text is rebuilt from the TOKENIZED words (lowercased,
    * single-space-joined — the same normalization every gram/window
    * operator applies), so the output is exactly reproducible by the
    * DuckDB oracle from the word lists; byte-level reconstruction would
    * need the original whitespace the tokenizer deliberately discards.
    *
    * @return one row per document:
    *         (doc_id, n_tokens, cut_tokens, text_cut) — full token count,
    *         tokens removed, and the surviving normalized text (empty
    *         string when the whole document was redundant). Materialized
    *         and cache-tracked ([[SessionCaches]]).
    */
  def cutDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 20,
      broadcastDupLimit: Long = DefaultBroadcastDupLimit,
      hash128: Boolean = false): DataFrame =
    cutDuplicateSpansImpl(df, idCol, textCol, windowTokens, broadcastDupLimit,
      hash128, loBits = 64)

  /** [[cutDuplicateSpans]] with the collision-injection knob (`loBits`;
    * see [[duplicateSpansImpl]]). Production callers always use 64. */
  private[graft] def cutDuplicateSpansImpl(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      broadcastDupLimit: Long,
      hash128: Boolean,
      loBits: Int): DataFrame =
    withSpanWindows(df, col(idCol), col(textCol), windowTokens, hash128,
        loBits, keepText = true) { wins =>
      cutRows(wins, dupFirsts(wins.exploded), broadcastDupLimit, windowTokens)
    }

  /** Distinct window-identity index of a corpus — the persistable side
    * of [[cutSpansIncremental]]: build once over the already-ingested
    * base (the span pipeline's front half and one input-sized distinct),
    * store as parquet, and each incremental batch cuts against it without
    * re-hashing the base. Columns (wlo, whi); `hash128` must match the
    * batch-side setting (the high half is all-zero otherwise, exactly
    * like the operators). [[persistSpanIndex]] persists it with the
    * sidecar a refresh needs.
    */
  def windowIndex(
      df: DataFrame,
      textCol: String,
      windowTokens: Int = 20,
      hash128: Boolean = false): DataFrame =
    withSpanWindows(df, lit(0L), col(textCol), windowTokens, hash128,
        loBits = 64, keepText = false)(
      _.exploded.select(col("wlo"), col("whi")).distinct())

  /** Approximate span-duplication triage — the span family's KMV
    * first-pass tier ([[graft.functions.KmvTriage]]): one narrow pass
    * counting `windowTokens`-token windows and sketching the distinct
    * ones, the "how much substring duplication is there" estimate before
    * committing to a full [[cutDuplicateSpans]]. 64-bit window hashing:
    * an approximate count needs no 128-bit cut identity. With `groupCol`
    * (e.g. `source`), one row per group: the WITHIN-group duplication.
    *
    * @return materialized `([group,] total_windows,
    *         kmv_distinct_windows, dup_windows, dup_fraction)`
    */
  def approxDuplicateSpans(
      df: DataFrame,
      textCol: String,
      windowTokens: Int = 20,
      k: Int = graft.functions.KmvSketch.TriageK,
      groupCol: Option[String] = None): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    graft.functions.KmvTriage.run(
      windowHashRows(df, textCol, windowTokens, groupCol.toSeq),
      "win", "windows", k, groupCol)
  }

  /** Incremental keep-earliest span cut — the production REFRESH shape
    * of [[cutDuplicateSpans]]: tonight's `batch` of new documents is
    * cleaned against the already-ingested corpus's persisted
    * [[windowIndex]] plus itself, WITHOUT re-hashing the base corpus.
    * A batch occurrence is redundant iff its window exists in the base
    * index (the base copy is earlier by the append-only id contract:
    * every base id < every batch id), or recurs within the batch and is
    * not the batch-earliest. Under that contract the result is EXACTLY
    * `cutDuplicateSpans(base ∪ batch)` restricted to batch docs
    * (spec-pinned, and the catalog oracle verifies it independently by
    * running the full keep-earliest cut in SQL and filtering).
    *
    * Cost per refresh: one narrow batch kernel pass + one lookup join
    * into the index (the batch side broadcasts whenever it is small —
    * the normal case — so the index scans narrow) — never a base
    * re-hash. Same `hash128` discipline as the batch cut.
    *
    * @param baseMaxDocId when set, the append-only contract is ENFORCED:
    *   the batch's smallest id must exceed it (read from the span
    *   pipeline's sizing aggregate — no extra pass) or the call fails
    *   loudly — overlapping ids would make "in the base index" no longer
    *   imply "earlier", silently breaking keep-earliest. The span-index
    *   sidecar ([[SpanIndexMeta]]) persists this value ([[refreshSpans]]
    *   passes it); pass None only when the caller proves the invariant
    *   some other way.
    */
  def cutSpansIncremental(
      baseWindows: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 20,
      broadcastDupLimit: Long = DefaultBroadcastDupLimit,
      hash128: Boolean = false,
      baseMaxDocId: Option[Long] = None): DataFrame = {
    // the consumed index is hot: refresh its LRU position so a loop of
    // incremental cuts never lets its own cold results evict it
    SessionCaches.touch(baseWindows)
    withSpanWindows(batch, col(idCol), col(textCol), windowTokens, hash128,
        loBits = 64, keepText = true) { wins =>
      for (maxBase <- baseMaxDocId; minBatch <- wins.minId)
        require(minBatch > maxBase,
          s"append-only id contract violated: batch min doc id $minBatch " +
            s"<= base corpus max doc id $maxBase. cutSpansIncremental is " +
            "exactly keep-earliest ONLY when every base id < every batch " +
            "id; cut the union with cutDuplicateSpans instead, or re-id " +
            "the batch above the base range.")
      // batch-local window stats, then one lookup join into the base
      // index: in-base windows keep NOTHING in the batch (the (-1, -1)
      // sentinel matches no real occurrence), batch-only windows with
      // n > 1 keep their batch-earliest
      val firsts = wins.exploded
        .groupBy(col("wlo"), col("whi"))
        .agg(count(lit(1)).as("n"),
          min(struct(col("id"), col("pos"))).as("f"))
        .join(baseWindows.select(col("wlo"), col("whi"))
          .withColumn("in_base", lit(true)), Seq("wlo", "whi"), "left")
        .filter(col("in_base").isNotNull || col("n") > 1)
        .select(col("wlo"), col("whi"),
          when(col("in_base").isNotNull, lit(-1L))
            .otherwise(col("f.id")).as("f_id"),
          when(col("in_base").isNotNull, lit(-1L))
            .otherwise(col("f.pos")).as("f_pos"))
      cutRows(wins, firsts, broadcastDupLimit, windowTokens)
    }
  }

  /** [[windowIndex]] of `docs` (hash128) persisted at `dir` with its
    * [[SpanIndexMeta]] sidecar — the index [[refreshSpans]] cuts
    * against. Refuses an empty corpus, named by `source`.
    */
  def persistSpanIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      windowTokens: Int,
      source: String): SpanIndexMeta =
    SpanIndexMeta.persist(docs, idCol, source, dir)(
      windowIndex(docs, textCol, windowTokens, hash128 = true))(
      SpanIndexMeta(windowTokens, hash128 = true, _, _))

  /** [[cutSpansIncremental]] of `batch` against the index
    * [[persistSpanIndex]] wrote at `indexDir`, with the refresh contract
    * enforced: the index needs its sidecar, built at this `windowTokens`
    * and at 128-bit identity, and every batch id must clear the base's
    * max doc id.
    */
  def refreshSpans(
      indexDir: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int): DataFrame = {
    val (idx, meta) = SpanIndexMeta.load(batch.sparkSession, indexDir)
    require(meta.windowTokens == windowTokens,
      s"span-index at $indexDir was built with windowTokens=${meta.windowTokens} " +
        s"but this refresh asked for $windowTokens — a mismatched window " +
        "size cuts the wrong spans; rerun with the index's window size " +
        "or rebuild the index")
    require(meta.hash128,
      s"span-index at $indexDir was built 64-bit (hash128=false) but " +
        "cut-spans-incremental cuts at 128-bit identity — rebuild the " +
        "index with `span-index`")
    cutSpansIncremental(idx, batch, idCol, textCol, windowTokens,
      hash128 = true, baseMaxDocId = Some(meta.maxDocId))
  }

  /** Provenance of the spans [[cutDuplicateSpans]] removes — the
    * curation AUDIT surface: for every maximal run of REDUNDANT windows
    * (occurrences that are not the corpus-earliest for their hash, i.e.
    * exactly the token ranges the cut deletes), where the kept copy
    * lives. One row per redundant span:
    * (doc_id, span_start, span_tokens, kept_doc, kept_pos) — the keeper
    * is the globally earliest occurrence of the span's FIRST window
    * (a span merged from several windows may interleave material kept in
    * different places; the first window's keeper is the deterministic
    * anchor, and the oracle implements the same rule via arg_min).
    *
    * The cut's span pipeline, with each redundant position's keeper
    * carried through the redundancy build (in the broadcast map's values,
    * or beside the position in the shuffle fold); both builds
    * spec-pinned identical. `hash128` as in [[duplicateSpans]].
    *
    * @return materialized, cache-tracked ([[SessionCaches]]).
    */
  def spanProvenance(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 20,
      broadcastDupLimit: Long = DefaultBroadcastDupLimit,
      hash128: Boolean = false): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val w = windowTokens
    withSpanWindows(df, col(idCol), col(textCol), w, hash128, loBits = 64,
        keepText = false) { wins =>
      redundantWindows(wins, dupFirsts(wins.exploded), broadcastDupLimit,
          keepers = true)(r => mergeRuns(r.pos, w).map { case (k, st, tok) =>
        (r.id, st, tok, r.keepDoc(k), r.keepPos(k))
      })
        .toDF("doc_id", "span_start", "span_tokens", "kept_doc", "kept_pos")
    }
  }

  /** The span pipeline's window relations: `docs` is one row per
    * document `(id, [text,] wlo, whi)` — text only when `withText` — and
    * `exploded` one row per window `(id, pos, wlo, whi)` with 1-based
    * `pos`. The shuffle build reads only `docs`' id and text, so a finish
    * without the front half may pass `docs` as `(id, text)`. `minId` is
    * the smallest document id (None when unknown or the input is empty).
    */
  private final case class SpanWindows(
      docs: DataFrame,
      exploded: DataFrame,
      withText: Boolean,
      minId: Option[Long])

  /** One document's redundant windows, what the span pipeline's back half
    * hands each operator's finish: 1-based window positions in ascending
    * order and, when asked for, each position's kept occurrence
    * (doc, pos); `text` is the document's text when the window relation
    * carries it, else null.
    */
  private final case class RedundantWindows(
      id: Long,
      text: String,
      pos: Array[Int],
      keepDoc: Array[Long],
      keepPos: Array[Long])

  /** The span pipeline's front half: hash `df`'s documents into their
    * window arrays once (persisted MEMORY_AND_DISK), probe Σ windows and
    * the smallest id in one aggregate over the cache, re-bind into the
    * session sized for Σ windows rows, and run `finish` there. Its result
    * is materialized and cache-tracked, then re-bound to `df`'s session;
    * the window cache is released also when anything here fails.
    */
  private def withSpanWindows(
      df: DataFrame,
      id: Column,
      text: Column,
      w: Int,
      hash128: Boolean,
      loBits: Int,
      keepText: Boolean)(
      finish: SpanWindows => DataFrame): DataFrame = {
    require(w >= 1, s"windowTokens must be >= 1, got $w")
    val session = df.sparkSession
    import session.implicits._
    val docWins0 = df
      .select(id.cast("long"), text.cast("string"))
      .as[(Long, String)]
      .map { case (i, t) =>
        // the high half is all-zero in 64-bit mode, so (wlo, whi)
        // grouping degenerates to plain 64-bit grouping with no branch
        // in the plan
        val (lo, hi) = windowHashes128(t, w, hash128, loBits)
        (i, if (keepText) t else null, lo, hi)
      }
      .toDF("id", "text", "wlo", "whi")
      .select((if (keepText) Seq("id", "text", "wlo", "whi")
        else Seq("id", "wlo", "whi")).map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = docWins0
        .agg(coalesce(sum(size(col("wlo")).cast("long")), lit(0L)),
          min(col("id")))
        .head()
      val docWins = GraftBridge.rebind(docWins0,
        Conf.sizedSession(session, stats.getLong(0), Conf.SpanRowShuffleBytes))
      val exploded = docWins
        .select(col("id"), posexplode(arrays_zip(col("wlo"), col("whi"))))
        .select(col("id"), (col("pos") + 1).cast("long").as("pos"),
          col("col.wlo").as("wlo"), col("col.whi").as("whi"))
      val result = finish(SpanWindows(docWins, exploded, keepText,
        if (stats.isNullAt(1)) None else Some(stats.getLong(1)))).cache()
      SessionCaches.track(result)
      result.count()
      GraftBridge.rebind(result, session)
    } finally docWins0.unpersist()
  }

  /** Duplicated windows with their earliest occurrence
    * `(wlo, whi, f_id, f_pos)` — min of the (doc, pos) struct is the
    * lexicographic minimum. The keep-earliest relation of the cut and its
    * provenance. */
  private def dupFirsts(exploded: DataFrame): DataFrame = exploded
    .groupBy(col("wlo"), col("whi"))
    .agg(count(lit(1)).as("n"), min(struct(col("id"), col("pos"))).as("f"))
    .filter(col("n") > 1)
    .select(col("wlo"), col("whi"),
      col("f.id").as("f_id"), col("f.pos").as("f_pos"))

  /** The span pipeline's back half: per-document redundant window
    * positions from a duplicated-window relation `dup`, handed to the
    * operator's narrow `finish` inside the same typed pass.
    *
    * `dup` is `(wlo, whi)` — every occurrence of those windows is
    * redundant — or `(wlo, whi, f_id, f_pos)`, where (f_id, f_pos) is the
    * occurrence to KEEP, or the (-1, -1) sentinel for "every occurrence
    * here is redundant" (a window already in an incremental base).
    * `keepers` carries each position's (f_id, f_pos) into the result.
    *
    * Rows: every document of `wins.docs` under the broadcast build, and
    * under the shuffle build when `wins.withText` (the cut needs every
    * document back); otherwise only documents with a redundant window.
    */
  private def redundantWindows[T: Encoder](
      wins: SpanWindows,
      dup: DataFrame,
      broadcastDupLimit: Long,
      keepers: Boolean)(
      finish: RedundantWindows => Iterator[T]): Dataset[T] = {
    val session = wins.docs.sparkSession
    import session.implicits._
    val keyed = dup.columns.contains("f_id")
    val text = if (wins.withText) col("text") else lit(null).cast("string")
    // One pass over the relation picks the build and fetches the
    // broadcast set: at most limit + 1 rows reach the driver, which is the
    // broadcast build's own ceiling, and a full fetch means SHUFFLE. Above
    // the limit that is a transient limit-row array the shuffle build
    // drops, in place of a separate count() re-running the aggregation.
    // The force-shuffle sentinel (limit 0) fetches nothing.
    val limit = math.min(broadcastDupLimit, Int.MaxValue - 16L).toInt
    val small =
      if (limit <= 0) None
      else Some((if (keyed) dup.select(col("wlo"), col("whi"), col("f_id"), col("f_pos"))
        else dup.select(col("wlo"), col("whi"), lit(0L), lit(0L)))
        .as[(Long, Long, Long, Long)].limit(limit + 1).collect())
        .filter(_.length <= limit)
    small match {
      case Some(rows) =>
        // value-free (keys only, half the map) when there is no keeper
        val map = new LongPairMap(rows.length * 2 + 16, withValues = keyed)
        rows.foreach { case (a, b, d, p) => map.put(a, b, d, p) }
        val bcMap = session.sparkContext.broadcast(map)
        wins.docs
          .select(col("id"), text, col("wlo"), col("whi"))
          .as[(Long, String, Array[Long], Array[Long])]
          .flatMap { case (id, t, lo, hi) =>
            val m = bcMap.value
            // primitive builders: no boxing, no array until the first hit
            val pos = new scala.collection.mutable.ArrayBuilder.ofInt
            val keepD = new scala.collection.mutable.ArrayBuilder.ofLong
            val keepP = new scala.collection.mutable.ArrayBuilder.ofLong
            var i = 0
            while (i < lo.length) {
              val s = m.indexOf(lo(i), hi(i))
              if (s >= 0 &&
                !(keyed && m.val1At(s) == id && m.val2At(s) == i + 1L)) {
                pos += (i + 1)
                if (keepers) { keepD += m.val1At(s); keepP += m.val2At(s) }
              }
              i += 1
            }
            finish(RedundantWindows(id, t, pos.result(), keepD.result(),
              keepP.result()))
          }
      case None =>
        val hits = wins.exploded.join(dup, Seq("wlo", "whi"))
        val perDoc = (if (keyed)
          hits.filter(!(col("id") === col("f_id") && col("pos") === col("f_pos")))
        else hits)
          .groupBy(col("id"))
          .agg((if (keepers) collect_list(struct(col("pos").as("_1"),
            col("f_id").as("_2"), col("f_pos").as("_3")))
          else collect_list(col("pos"))).as("ps"))
        val rows = (
          if (wins.withText) wins.docs.select(col("id"), col("text"))
            .join(perDoc, Seq("id"), "left")
          else perDoc.withColumn("text", text)
        ).select(col("id"), col("text"), col("ps"))
        if (keepers)
          rows.as[(Long, String, Array[(Long, Long, Long)])]
            .flatMap { case (id, t, ps) =>
              val sorted = Option(ps).getOrElse(Array.empty[(Long, Long, Long)])
                .sortBy(_._1)
              finish(RedundantWindows(id, t, sorted.map(_._1.toInt),
                sorted.map(_._2), sorted.map(_._3)))
            }
        else
          rows.as[(Long, String, Array[Long])]
            .flatMap { case (id, t, ps) =>
              finish(RedundantWindows(id, t,
                Option(ps).fold(Array.emptyIntArray)(_.map(_.toInt).sorted),
                Array.emptyLongArray, Array.emptyLongArray))
            }
    }
  }

  /** The cut's back half and narrow finish: each document's text rebuilt
    * without the tokens its redundant windows cover. */
  private def cutRows(
      wins: SpanWindows,
      dup: DataFrame,
      broadcastDupLimit: Long,
      w: Int): DataFrame = {
    val session = wins.docs.sparkSession
    import session.implicits._
    redundantWindows(wins, dup, broadcastDupLimit, keepers = false)(r =>
      Iterator.single(rebuildCutFromPositions(w, r.id, r.text, r.pos)))
      .toDF("doc_id", "n_tokens", "cut_tokens", "text_cut")
  }

  /** Merge sorted 1-based redundant-window positions into maximal runs
    * of consecutive positions: (index of the run's first position in
    * `sorted`, span_start, span_tokens) with
    * span_tokens = run_length + w − 1.
    */
  private def mergeRuns(sorted: Array[Int], w: Int): Iterator[(Int, Long, Long)] = {
    val out = new scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    var start = 0
    var i = 1
    while (i <= sorted.length) {
      if (i == sorted.length || sorted(i) != sorted(i - 1) + 1) {
        out += ((start, sorted(start).toLong,
          (sorted(i - 1) - sorted(start) + w).toLong))
        start = i
      }
      i += 1
    }
    out.iterator
  }

  /** The span family's tokenization (shared with the gram operators):
    * lowercase, single-space split, empty-token filter. */
  private[graft] def tokenizeWords(text: String): Array[String] =
    if (text == null) Array.empty[String]
    else text.toLowerCase(java.util.Locale.ROOT).split(" ").filter(_.nonEmpty)

  /** Seed of the HIGH identity half in 128-bit window mode — any fixed
    * odd constant independent of the low half's seed 7. */
  private val WindowHiSeed = 0x9E3779B97F4A7C15L

  /** Rolling `w`-token window hashes of `text`, positional order. Docs
    * with fewer than `w` words have no windows. 64-bit identity — the
    * streaming twin and report-only callers; see [[windowHashes128]].
    */
  private[graft] def windowHashes(text: String, w: Int): Array[Long] =
    windowHashes128(text, w, withHi = false, loBits = 64)._1

  /** One row per 64-bit `w`-token window hash `win` of `textCol`, beside
    * the `keep` columns — the span family's triage items.
    */
  private[graft] def windowHashRows(
      df: DataFrame,
      textCol: String,
      w: Int,
      keep: Seq[String] = Nil): DataFrame = {
    val hashes = udf((t: String) => windowHashes(t, w))
    df.select(keep.map(col) :+
      explode(hashes(col(textCol).cast("string"))).as("win"): _*)
  }

  /** [[windowHashes]] plus an optional independently-seeded HIGH half
    * (the 128-bit identity the cut path runs at 100 TB scale): window
    * identity = the window's word sequence, realized as xxh64 over the
    * concatenated word hashes. With `withHi = false` the high array is
    * all zeros (callers group on (lo, hi) unconditionally — zero hi
    * degenerates to 64-bit grouping). `loBits` masks the LOW half
    * (test-only collision injection; see [[duplicateSpansImpl]]).
    */
  private[graft] def windowHashes128(
      text: String,
      w: Int,
      withHi: Boolean,
      loBits: Int): (Array[Long], Array[Long]) = {
    val words = tokenizeWords(text)
    if (words.length < w) (Array.emptyLongArray, Array.emptyLongArray)
    else {
      val wh = new Array[Long](words.length)
      var i = 0
      while (i < words.length) {
        wh(i) = XXH64.hash(
          words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8), 42L)
        i += 1
      }
      val loMask = if (loBits >= 64) -1L else (1L << loBits) - 1L
      val buf = new Array[Byte](8 * w)
      val n = words.length - w + 1
      val lo = new Array[Long](n)
      val hi = new Array[Long](n)
      var s = 0
      while (s < n) {
        var j = 0
        while (j < w) {
          val h = wh(s + j)
          var b = 0
          while (b < 8) { buf(j * 8 + b) = (h >>> (8 * b)).toByte; b += 1 }
          j += 1
        }
        lo(s) = XXH64.hash(buf, 7L) & loMask
        if (withHi) hi(s) = XXH64.hash(buf, WindowHiSeed)
        s += 1
      }
      (lo, hi)
    }
  }

  /** Replay the [[cutDuplicateSpans]] rewrite from an externally-supplied
    * first-occurrence relation `(wlo, whi, f_id, f_pos)` — the finish
    * step of the STREAMING twin ([[graft.streaming.StreamSpans]]), whose
    * folded event stream hands back exactly this relation. An occurrence
    * is redundant iff its window appears in `firsts` under a different
    * (doc, pos); windows absent from `firsts` are never cut, so a
    * duplicates-only relation (the batch operator's `n > 1` aggregate)
    * and an all-windows relation (the stream's folded firsts) both
    * reproduce the same rewrite. `hash128` must match the width the
    * firsts were produced at (whi is all-zero in 64-bit mode, exactly
    * like the batch operators).
    */
  private[graft] def cutFromFirstOccurrences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      firsts: DataFrame,
      hash128: Boolean = false): DataFrame =
    cutFromFirstOccurrencesImpl(df, idCol, textCol, windowTokens, firsts,
      hash128, loBits = 64)

  /** [[cutFromFirstOccurrences]] with the collision-injection knob
    * (`loBits`, as in [[duplicateSpansImpl]]) — StreamSpansSpec's
    * lo-collision proof replays the finish at the same masked width the
    * stream ran at.
    *
    * The span pipeline's shuffle redundancy build and cut finish, without
    * its front half: no cache, no sizing probe and no broadcast decision,
    * so the finish runs as one lazy plan (a shuffle join) with no eager
    * action of its own. The windows are hashed by a flatMap straight to
    * rows, the text re-read from `df` for the rewrite.
    */
  private[graft] def cutFromFirstOccurrencesImpl(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      firsts: DataFrame,
      hash128: Boolean,
      loBits: Int): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val w = windowTokens
    val docs = df.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text"))
    val exploded = docs.as[(Long, String)]
      .flatMap { case (id, text) =>
        val (lo, hi) = windowHashes128(text, w, hash128, loBits)
        lo.indices.iterator.map(i => (lo(i), hi(i), id, (i + 1).toLong))
      }
      .toDF("wlo", "whi", "id", "pos")
    cutRows(SpanWindows(docs, exploded, withText = true, minId = None),
      firsts, broadcastDupLimit = 0L, w)
  }

  /** The cut kernel: drop every token covered by a redundant window
    * (1-based window POSITIONS, sorted or not) and rebuild the normalized
    * text from the survivors. The window count is words.length − w + 1,
    * and the words are tokenized here anyway, so no caller re-runs the
    * window-hash kernel to size a flag array. Top-level (not nested) so
    * executor closures reference it through the module, keeping them
    * serializable.
    */
  private def rebuildCutFromPositions(
      w: Int,
      id: Long,
      text: String,
      redundantPos: Array[Int]): (Long, Long, Long, String) = {
    val words = tokenizeWords(text)
    val nWins = math.max(0, words.length - w + 1)
    val cut = new Array[Boolean](words.length)
    var j = 0
    while (j < redundantPos.length) {
      val i = redundantPos(j) - 1
      if (i >= 0 && i < nWins) {
        var t = i
        while (t < i + w) { cut(t) = true; t += 1 }
      }
      j += 1
    }
    val kept = new StringBuilder
    var nCut = 0L
    var i = 0
    while (i < words.length) {
      if (cut(i)) nCut += 1
      else {
        if (kept.nonEmpty) kept.append(' ')
        kept.append(words(i))
      }
      i += 1
    }
    (id, words.length.toLong, nCut, kept.toString)
  }

  // --------------------------------------------------------------- simhash

  /** 64-bit SimHash over token hashes (public algorithm: Charikar'02 /
    * Manku et al. WWW'07).
    */
  def simhash(text: String): Long = {
    if (text == null) 0L
    else {
      val acc = new Array[Int](64)
      text.toLowerCase(java.util.Locale.ROOT).split("\\s+").iterator.filter(_.nonEmpty).foreach { w =>
        val h = XXH64.hash(w.getBytes("UTF-8"), 42L)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
          i += 1
        }
      }
      var out = 0L
      var i = 0
      while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
      out
    }
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxDistance, candidates
    * via pigeonhole block match: with 4 blocks of 16 bits, any pair at
    * hamming ≤ 3 agrees on ≥ 1 whole block — full recall, no n² join.
    * @param sigSink see minhashPairs — persists (id, sig) for the oracle;
    *   pigeonhole block-match has FULL recall at hamming <= maxDistance, so
    *   the oracle is simply all pairs with bit_count(xor) <= maxDistance —
    *   PROVIDED no block bucket exceeds `maxBucketSize` (over-cap buckets
    *   degrade to star pairs the all-pairs SQL does not model; holds at
    *   the verification SF where the corpus is smaller than the cap).
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3,
      maxBucketSize: Int = 2000,
      sigSink: DataFrame => DataFrame = identity): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    hammingPairs(
      sigSink(df
        .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
        .as[(Long, String)]
        .map { case (id, text) => (id, simhash(text)) }
        .toDF("id", "sig")),
      maxDistance, maxBucketSize)
  }

  /** The pigeonhole BAND ROWS of a 64-bit fingerprint relation —
    * (band, bucket, id) with 64/(maxDistance+1)-bit bucket keys, the
    * exact banding [[hammingPairs]] joins on, exposed so streaming
    * consumers ([[graft.streaming.StreamNearDup.bandMatchesFromRows]])
    * share one block-split definition with the batch path.
    */
  def hammingBandRows(
      sigRelation: DataFrame, maxDistance: Int = 3): DataFrame = {
    val spark = sigRelation.sparkSession
    import spark.implicits._
    sigRelation.select(col("id").cast("long"), col("sig").cast("long"))
      .as[(Long, Long)]
      .flatMap { case (id, sig) =>
        pigeonholeBlocks(sig, maxDistance).map { case (b, key) => (b, key, id) }
      }
      .toDF("band", "bucket", "id")
  }

  /** (block, key) of each of the maxDistance+1 pigeonhole blocks of `sig`:
    * 64/(maxDistance+1)-bit slices, low bits first. */
  private def pigeonholeBlocks(sig: Long, maxDistance: Int): Iterator[(Int, Long)] = {
    val blocks = maxDistance + 1
    val bits = 64 / blocks
    val mask = if (bits >= 64) -1L else (1L << bits) - 1L
    (0 until blocks).iterator.map(b => (b, (sig >>> (b * bits)) & mask))
  }

  /** Generic hamming-ball pair search over ANY 64-bit fingerprint
    * relation `(id LONG, sig LONG)` — the pigeonhole machinery behind
    * [[simhashPairs]], factored out so other fingerprint families (the
    * multimodal perceptual dHash, fuzzy content hashes) share one
    * banding/skew/verify implementation. Returns (id_a, id_b, hamming)
    * with id_a < id_b and hamming ≤ maxDistance; full recall at ≤
    * maxDistance by the pigeonhole argument, over-cap buckets degrade
    * to star pairs around the min id (same contract as the text path).
    *
    * Full-recall mode (`maxBucketSize = Int.MaxValue`) disables the
    * star degradation, which makes within-bucket pairing quadratic in
    * the largest bucket: a hostile corpus (many identical signatures)
    * would silently turn the query all-pairs. Callers opting in are
    * therefore HELD to [[fullRecallBucketLimit]] at runtime — the
    * already-computed bucket-size aggregate is checked and the call
    * fails loudly past the limit, so "full recall stays cheap" is an
    * enforced invariant, not a comment-level corpus argument.
    */
  def hammingPairs(
      sigRelation: DataFrame,
      maxDistance: Int = 3,
      maxBucketSize: Int = 2000): DataFrame = {
    val spark = sigRelation.sparkSession
    import spark.implicits._
    val sigs0 = sigRelation.select(col("id").cast("long"), col("sig").cast("long"))
      .cache()

    // input-sized block exchange (the minhashPairs discipline): the
    // count materializes the sig cache every later step reads anyway
    val sigs = GraftBridge.rebind(sigs0, Conf.sizedSession(spark,
      math.multiplyExact(sigs0.count(), maxDistance + 1L),
      Conf.BlockRowShuffleBytes))

    val blocked = sigs
      .as[(Long, Long)]
      .flatMap { case (id, sig) =>
        pigeonholeBlocks(sig, maxDistance).map { case (b, key) => (b, key, id, sig) }
      }
      .toDF("block", "key", "id", "sig")

    val buckets = BucketPairs("hammingPairs", blocked, Seq("block", "key"),
      maxBucketSize, sigs)
    // distinct over the sigs too: the hamming filter then only reads
    // grouping columns, so the optimizer pushes it below the dedupe into
    // the candidate joins (a dropDuplicates on the ids would keep it out)
    val result = buckets.pairs("sig").distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("hamming"))
    buckets.materialize(result, spark)
  }

  /** [[SessionCaches.release()* SessionCaches.release()]] under its old
    * name, kept for the layered benchmark's workloads, which call it.
    */
  def releaseTrackedCaches(): Unit = SessionCaches.release()

  /** LSH-recall evaluation — the operator that MEASURES the dedup
    * operators: brute-force exact-Jaccard ground truth over a (sampled)
    * corpus vs what the MinHash banding actually surfaces, as one
    * metrics row. MinHash+LSH trades recall for the absence of the
    * all-pairs join; this makes the trade measurable instead of assumed
    * (the banding S-curve says P(candidate) = 1−(1−s^r)^b — this checks
    * the realized rate on real data). Precision is structurally 1.0
    * (candidates are exact-verified before thresholding), so the single
    * interesting number is recall.
    *
    * The ground truth is deliberately QUADRATIC in the sample — that is
    * what ground truth costs — so callers bound the sample, not this
    * function (the catalog samples doc_id % 3 = 0; at 100 TB you'd
    * sample a few thousand docs).
    *
    * @return one row: (n_docs, true_pairs, found_pairs, missed_pairs,
    *         false_pos, recall_bp) — integer basis points, 10000 when
    *         truth is empty (nothing to miss); false_pos must be 0 (the
    *         exact-verify invariant, checked rather than assumed).
    */
  def minhashRecallEval(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      sigSink: DataFrame => DataFrame = identity): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sigs = sigSink(
      minhashSigRelation(df, idCol, textCol, shingleK, numHashes)).cache()
    // ground truth: ALL pairs, exact Jaccard (broadcast nested-loop is
    // the honest physical shape for an all-pairs oracle on a sample)
    val truth = sigs.select(col("id").as("id_a"), col("shingles").as("sh_a"))
      .crossJoin(sigs.select(col("id").as("id_b"), col("shingles").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .as[(Long, Array[Long], Long, Array[Long])]
      .map { case (a, shA, b, shB) =>
        val inter = sortedIntersectCount(shA, shB)
        val union = shA.length + shB.length - inter
        (a, b, if (union == 0) 0.0 else inter.toDouble / union)
      }
      .toDF("id_a", "id_b", "jaccard")
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
    val foundPairs = minhashPairs(df, idCol, textCol, shingleK, numHashes, bands,
      threshold, precomputedSigs = Some(sigs))
    val found = foundPairs.select(col("id_a"), col("id_b"))
    val metrics = truth
      .withColumn("t", lit(1L))
      .join(found.withColumn("f", lit(1L)), Seq("id_a", "id_b"), "full_outer")
      .agg(coalesce(sum(col("t")), lit(0L)).as("true_pairs"),
        coalesce(sum(col("f")), lit(0L)).as("found_pairs"),
        coalesce(sum(when(col("f").isNull, 1L)), lit(0L)).as("missed_pairs"),
        coalesce(sum(when(col("t").isNull, 1L)), lit(0L)).as("false_pos"))
    val nDocs = sigs.count()
    val out = metrics.select(
      lit(nDocs).as("n_docs"), col("true_pairs"), col("found_pairs"),
      col("missed_pairs"), col("false_pos"),
      when(col("true_pairs") === 0L, lit(10000L))
        .otherwise(call_function("div",
          (col("true_pairs") - col("missed_pairs")) * lit(10000L),
          col("true_pairs"))).as("recall_bp"))
    val materialized = SessionCaches.track(out.cache())
    materialized.count()
    // the pairs relation is tracked, so the next release() would drop it;
    // this eval consumed it fully into `materialized`, so drop it now
    foundPairs.unpersist()
    sigs.unpersist()
    materialized
  }

  // ------------------------------------------------- duplicate clustering

  /** Connected components over near-dup pairs → (id, cluster_id) with
    * cluster_id = min member id. Iterative min-label propagation: each
    * round every vertex takes the smallest label among itself and its
    * neighbors; converges in O(component diameter) rounds (near-dup
    * clusters are dense, so diameter is tiny in practice; `maxIter`
    * bounds pathological chains). Each round is one join+aggregate —
    * the standard large-graph CC shape without any graph library.
    * @param singleTaskEdgeCap fast-path bound in DIRECTED edge rows (2×
    *   the undirected pair count). The default (1M directed rows, ≤ 2M
    *   nodes) keeps the single task's parent map under ~150 MB; raise it
    *   only with executor heap to spare — the distributed path is always
    *   correct, just slower on small graphs.
    */
  def duplicateClusters(
      pairs: DataFrame,
      maxIter: Int = 10,
      singleTaskEdgeCap: Long = 1L << 20): DataFrame = {
    // a tracked pair relation being clustered is hot — LRU-refresh it
    SessionCaches.touch(pairs)
    val spark = pairs.sparkSession
    // undirected edge list, both directions
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .cache()
    // RUNTIME-ADAPTIVE strategy pick (same spirit as AQE's broadcast
    // decision): near-dup edge sets are tiny relative to the corpus —
    // O(duplicate pairs), not O(rows) — so after the distinct we know
    // |edges| and can run path-compressed union-find in ONE task instead
    // of O(diameter) join+agg rounds (each round is a full Spark job;
    // on small graphs the rounds are pure scheduling overhead). Above
    // the cap — a genuinely huge duplicate graph — fall through to the
    // distributed min-label iteration, which scales arbitrarily.
    val edgeCount = edges.count()
    if (edgeCount <= singleTaskEdgeCap) {
      import spark.implicits._
      val out = edges.select(col("src"), col("dst")).as[(Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          // primitive open-addressing parent map (16 B/slot, load ≤ 0.5,
          // doubling growth) — a boxed HashMap would cost ~10× the memory
          // and put the fast path's OOM point well below the edge cap
          val parent = new LongLongMap(1 << 16)
          def find(x: Long): Long = {
            var r = x
            while (parent(r) != r) r = parent(r)
            var c = x // path compression
            while (parent(c) != r) { val n = parent(c); parent.put(c, r); c = n }
            r
          }
          it.foreach { case (a, b) =>
            if (!parent.contains(a)) parent.put(a, a)
            if (!parent.contains(b)) parent.put(b, b)
            val ra = find(a); val rb = find(b)
            // union by min keeps the label = min member id invariant
            if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
          }
          parent.keysIterator.map(id => (id, find(id)))
        }
        .toDF("id", "cluster_id")
      edges.unpersist()
      return out
    }
    val ids = edges.select(col("src").as("id")).distinct()
    // every node also points at itself, so one join against `labels`
    // brings in both its own label and its neighbors' — `labels` appears
    // ONCE per round and the analyzed plan grows linearly with the
    // rounds (referenced twice, it doubled every round)
    val reach = edges
      .unionByName(ids.select(col("id").as("src"), col("id").as("dst")))
      .cache()
    var labels = ids.withColumn("cluster_id", col("id"))
    var iter = 0
    var converged = false
    var toRelease: Option[DataFrame] = None
    while (iter < maxIter && !converged) {
      // carry the old label through the update so materialization and the
      // convergence check share ONE action (the per-iteration fixed cost
      // is Spark job overhead, not data)
      // cache each round (releasable via unpersist below), and TRUNCATE
      // lineage with a localCheckpoint every 8th round: with cache alone
      // the plan nests one level per iteration and high-diameter graphs
      // blow the driver's heap just building plan strings; with
      // localCheckpoint alone unpersist() is a no-op (checkpoint blocks
      // aren't CacheManager entries), so every round's storage would
      // linger until GC. Bounded plan depth + prompt release.
      val updated0 = reach
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("cluster_id", "n_label"), "dst")
        .groupBy(col("src").as("id"))
        .agg(
          min(when(col("src") === col("dst"), col("n_label"))).as("old_label"),
          min(col("n_label")).as("cluster_id"))
      val updated =
        if (iter % 8 == 7) updated0.localCheckpoint(true) else updated0.cache()
      val changed = updated.filter(col("old_label") =!= col("cluster_id")).count()
      toRelease.foreach(_.unpersist())
      toRelease = Some(updated)
      labels = updated.select(col("id"), col("cluster_id"))
      converged = changed == 0
      iter += 1
    }
    reach.unpersist()
    edges.unpersist()
    labels
  }

  /** Quality-aware canonical selection — the pipeline step AFTER
    * clustering: of each duplicate cluster, KEEP the member with the
    * highest score (ties broken toward the smallest id, so the decision
    * is total and deterministic); every document outside any cluster
    * keeps itself. Min-id canonicals (exactDuplicates etc.) discard an
    * arbitrary member; retention policy in real curation keeps the
    * best-quality copy, which this encodes.
    *
    * Scale shape: the argmax aggregates ONLY the clustered subset
    * (O(duplicate docs), usually ≪ corpus — no corpus-wide window or
    * sort), and both joins are equi-joins on id / cluster_id that AQE
    * broadcasts when the duplicate graph is small. Scores must be
    * exact (integer) for the keep decision to be engine-reproducible.
    *
    * @param scored   one row per document: (idCol, scoreCol)
    * @param clusters (id, cluster_id) as produced by [[duplicateClusters]]
    *                 — docs absent from it are treated as singletons
    * @param includeKeptId append the cluster keeper's id as a trailing
    *                 `kept_id` column (null for docs outside any cluster).
    *                 The keeper is already computed for the keep decision;
    *                 exposing it lets drop-attribution consumers (the
    *                 neardup matrix) read "who kept me" directly instead
    *                 of re-deriving it with a keepers self-join over a
    *                 SECOND evaluation of this whole relation (guide §2.4).
    *                 Default off — the established (idCol, cluster_id,
    *                 scoreCol, keep) contract is unchanged.
    * @return (idCol, cluster_id, scoreCol, keep[, kept_id])
    */
  def keepBestPerCluster(
      scored: DataFrame,
      clusters: DataFrame,
      idCol: String = "doc_id",
      scoreCol: String = "score",
      includeKeptId: Boolean = false): DataFrame = {
    val withCluster = scored.join(
      clusters.select(col("id").as(idCol), col("cluster_id")),
      Seq(idCol), "left")
    // lexicographic struct max = (max score, then min id): one bounded
    // partial+final aggregate over clustered docs only
    val best = withCluster.filter(col("cluster_id").isNotNull)
      .groupBy(col("cluster_id"))
      .agg(max(struct(col(scoreCol).as("s"), (-col(idCol)).as("neg_id")))
        .as("b"))
      .select(col("cluster_id"), (-col("b.neg_id")).as("kept_id"))
    val base = Seq(col(idCol),
      coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
      col(scoreCol),
      (col("kept_id").isNull || col(idCol) === col("kept_id")).as("keep"))
    withCluster.join(best, Seq("cluster_id"), "left")
      .select(base ++ (if (includeKeptId) Seq(col("kept_id")) else Nil): _*)
  }

  // --------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-duplicate pairs via random-hyperplane LSH:
    * sign-bit signature buckets candidates ([[BucketPairs]]), exact cosine
    * verifies. Vectors as Array[Float]; hyperplanes derived
    * deterministically from a seed.
    * @param maxBucketSize the same skew guard as minhash/simhash: a hot
    *   signature bucket (e.g. a giant cluster of identical embeddings)
    *   would otherwise go quadratic; over-cap buckets degrade to star
    *   candidates around the bucket's min id. `Int.MaxValue` is
    *   full-recall mode, which refuses a bucket past
    *   [[fullRecallBucketLimit]].
    * @param sigSink optional hook applied to the (id, sig) signature
    *   relation before use — the catalog passes a persist-and-read-back
    *   function so the DuckDB oracle can recompute bucket collisions from
    *   the exact signatures this run used, then verify cosine from the
    *   embeddings table in the same sequential-double arithmetic. Same
    *   bucket-cap precondition as minhash/simhash: over-cap buckets
    *   degrade to star pairs a plain sig-equality oracle does not model.
    */
  def embeddingNearDups(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int = 16,
      minCosine: Double = 0.95,
      seed: Long = 42L,
      maxBucketSize: Int = 2000,
      sigSink: DataFrame => DataFrame = identity): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hyper = Similarity.randomPlanes(planes, dim, seed)

    val sigs = sigSink(df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, Similarity.planeSignature(v, hyper), v) }
      .toDF("id", "sig", "vec"))
      .cache()

    val buckets = BucketPairs("embeddingNearDups", sigs, Seq("sig"),
      maxBucketSize, sigs)
    val result = buckets.pairs("vec").dropDuplicates("id_a", "id_b")
      .as[(Long, Long, Array[Float], Array[Float])]
      .map { case (a, b, va, vb) => (a, b, Similarity.cosine(va, vb)) }
      .toDF("id_a", "id_b", "cosine")
      .filter(col("cosine") >= minCosine)
    buckets.materialize(result, spark)
  }
}
