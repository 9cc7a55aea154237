package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *   - `bruteForceTopK`: exact cosine top-k for a (small, broadcast) query
  *     set against the full corpus — the correctness baseline. The corpus
  *     side is a narrow scan; per row it scores |Q| dot products, then a
  *     per-query window keeps k. No corpus self-join.
  *   - `ivfTopK`: the scale path — k-means-lite coarse quantizer (IVF):
  *     corpus is bucketed by nearest centroid once (shuffle by centroid),
  *     queries probe only `nprobe` nearest centroid buckets, so scored
  *     candidates shrink by ~numCentroids/nprobe.
  *
  * All float math is accumulated in Double with a fixed left-to-right
  * order, so results are deterministic across partitionings.
  */
// Serializable: executor-side kernels call module helpers (nearestCentroids,
// dot/norm), and lambdas that reference them capture the stateless module
object Similarity extends Serializable {

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val na = norm(a)
    val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  /** Deterministic random hyperplanes (splitmix64-seeded gaussian-ish via
    * sum of uniforms) for sign-bit LSH.
    */
  def randomPlanes(planes: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rng = new java.util.Random(seed)
    Array.fill(planes)(Array.fill(dim)((rng.nextDouble() * 2 - 1).toFloat))
  }

  def planeSignature(v: Array[Float], planes: Array[Array[Float]]): Long = {
    var sig = 0L
    var i = 0
    while (i < planes.length) {
      if (dot(v, planes(i)) >= 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  /** Exact cosine top-k: for each query vector (id in `queryIds`), the k
    * nearest corpus vectors by cosine. Queries are collected + broadcast
    * (the query set is small by contract; the corpus is not).
    */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val queries = base
      .filter(col("id").isin(queryIds: _*))
      .as[(Long, Array[Float])]
      .collect()
    val bc = spark.sparkContext.broadcast(queries)

    val scored = base
      .as[(Long, Array[Float])]
      .flatMap { case (id, vec) =>
        bc.value.iterator.collect {
          case (qid, qvec) if qid != id => (qid, id, cosine(qvec, vec))
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")

    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  private def sampleVecs(
      base: DataFrame, sampleSize: Int, seed: Long): Array[Array[Float]] = {
    val spark = base.sparkSession
    import spark.implicits._
    base
      .orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .limit(sampleSize)
      .as[(Long, Array[Float])]
      .collect()
      .map(_._2)
  }

  /** Train the coarse quantizer on a deterministic driver-side sample
    * (sampleSize × dim floats, tiny). Ordering by a hash of the id gives
    * an unbiased uniform sample and plans as TakeOrderedAndProject (per-
    * partition top-k + driver merge), not a presorted-prefix of the id
    * space, which would bias the quantizer toward old rows. Shared by
    * ivfTopK and semanticDedup so their quantizers can never diverge.
    */
  private def trainQuantizer(
      base: DataFrame,
      numCentroids: Int,
      sampleSize: Int,
      seed: Long): org.apache.spark.broadcast.Broadcast[Array[Array[Float]]] = {
    val spark = base.sparkSession
    val sample = sampleVecs(base, sampleSize, seed)
    spark.sparkContext.broadcast(kmeansLite(sample, numCentroids, iters = 5, seed))
  }

  /** The `n` nearest centroids of `v` by normalized dot, smallest index
    * winning ties — THE assignment function for both IVF and SemDeDup.
    * n == 1 (the per-row assignment hot path) is an allocation-free
    * argmax with the identical tie-break; the general path sorts.
    */
  private def nearestCentroids(
      centroids: Array[Array[Float]], v: Array[Float], n: Int): Seq[Int] =
    if (n == 1) {
      var best = 0; var bestD = Double.MinValue; var i = 0
      while (i < centroids.length) {
        val d = dot(v, centroids(i)) / math.max(norm(centroids(i)), 1e-12)
        if (d > bestD) { bestD = d; best = i } // strict: first index wins ties
        i += 1
      }
      Seq(best)
    } else
      centroids.zipWithIndex
        .map { case (c, i) => (i, -dot(v, c) / math.max(norm(c), 1e-12)) }
        .sortBy { case (i, d) => (d, i) }
        .take(n)
        .map(_._1)
        .toSeq

  /** IVF-style ANN: corpus assigned once to `numCentroids` coarse centroids
    * (deterministic seeded init + a few Lloyd iterations over a sample),
    * each query probes its `nprobe` nearest centroids' buckets only.
    * Returns the same schema as bruteForceTopK; recall < 1 by design.
    *
    * @param assignSink / probeSink optional hooks applied to the
    *   (bucket, id, vec) assignment and (query_id, bucket) probe relations
    *   before use — the catalog passes persist-and-read-back functions so
    *   the DuckDB oracle re-derives everything DOWNSTREAM of the trained
    *   quantizer (candidate restriction, cosine, top-k ranking) from the
    *   exact assignments/probes this run used. The quantizer itself is
    *   engine-computed data, like the LSH signatures of the dedup ops.
    */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      numCentroids: Int = 16,
      nprobe: Int = 4,
      sampleSize: Int = 2000,
      seed: Long = 42L,
      assignSink: DataFrame => DataFrame = identity,
      probeSink: DataFrame => DataFrame = identity): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val bcCentroids = trainQuantizer(base, numCentroids, sampleSize, seed)

    def nearest(v: Array[Float], n: Int): Seq[Int] =
      nearestCentroids(bcCentroids.value, v, n)

    val assigned = assignSink(base
      .as[(Long, Array[Float])]
      .map { case (id, v) => (nearest(v, 1).head, id, v) }
      .toDF("bucket", "id", "vec"))

    val queries = base
      .filter(col("id").isin(queryIds: _*))
      .as[(Long, Array[Float])]
      .collect()
    val probes = queries.flatMap { case (qid, qv) =>
      nearest(qv, nprobe).map(b => (qid, b))
    }
    val bcQueries = spark.sparkContext.broadcast(queries.toMap)
    val probesDf =
      probeSink(spark.createDataset(probes.toSeq).toDF("query_id", "bucket"))

    val scored = assigned
      .join(broadcast(probesDf), "bucket")
      .filter(col("id") =!= col("query_id"))
      .as[(Int, Long, Array[Float], Long)]
      .map { case (_, id, vec, qid) => (qid, id, cosine(bcQueries.value(qid), vec)) }
      .toDF("query_id", "neighbor_id", "cosine")
      .dropDuplicates("query_id", "neighbor_id")

    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Incremental IVF index maintenance — fold a NEW-vectors batch into
    * an existing coarse quantizer WITHOUT retraining (the
    * `dedup_*_incremental` pattern applied to ANN): each new vector is
    * assigned to its nearest FROZEN centroid by exact integer squared-L2
    * argmin ([[KMeansExact.nearest]] — tie to the lowest bucket, the
    * oracle-replayable rule) and appended to that bucket's list. The
    * old corpus is structurally out of reach: this method receives only
    * the frozen centroid array and the index's per-bucket size relation
    * (≤ k rows — index METADATA, not data), so no plan it produces can
    * rescan or retrain over the indexed vectors. Periodic re-training
    * when drift accumulates is the caller's explicit, separate decision.
    *
    * Scale shape: one narrow map over the new batch (centroids
    * broadcast), one ≤ k-row count aggregate, two broadcast joins of
    * ≤ k-row relations. At 100 TB of indexed corpus the fold touches
    * only the batch.
    *
    * @param baseBucketCounts (bucket, n_base) — current bucket sizes
    * @return (id, bucket, dist2_scaled, n_before, n_after) per new vector
    */
  def ivfAppendAssign(
      newBatch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Long]],
      baseBucketCounts: DataFrame): DataFrame = {
    val assigned = KMeansExact.assign(newBatch, idCol, vecCol, centroids)
      .select(col("id"), col("cluster").as("bucket"), col("dist2_scaled"))
    val newCounts = assigned.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_new"))
    assigned
      .join(broadcast(baseBucketCounts.select(col("bucket"), col("n_base"))),
        Seq("bucket"), "left_outer")
      .join(broadcast(newCounts), Seq("bucket"))
      .select(col("id"), col("bucket"), col("dist2_scaled"),
        coalesce(col("n_base"), lit(0L)).as("n_before"),
        (coalesce(col("n_base"), lit(0L)) + col("n_new")).as("n_after"))
  }

  /** IVF-PQ ANN (public method: Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"): the memory-bounded ANN path for
    * corpora whose raw vectors don't fit executor memory. The corpus is
    * coarse-bucketed by the shared IVF quantizer, and each vector is
    * compressed to `subspaces` small codes — one codeword index per
    * contiguous dim/subspaces slice, codebooks trained per subspace by
    * L2 k-means on the same driver-side sample. Queries probe `nprobe`
    * buckets and score candidates by asymmetric distance computation
    * (ADC): a per-query lookup table of query-slice · codeword products,
    * so scoring a candidate is `subspaces` table lookups instead of a
    * dim-length dot against a raw vector it never reads.
    *
    * This variant encodes the raw vector, not the residual v − centroid
    * (IVFADC's refinement) — the no-residual form keeps the score a pure
    * function of (codes, codebooks, query), which is what the relational
    * oracle re-derives. All score arithmetic is integer: query components
    * and codewords quantize to floor(x·1000 + 0.5) BIGINTs (the
    * ann_dot_exact technique), so the ADC dot is order-independent and
    * cell-exact across engines. With components in [-2, 2] the scaled
    * product is ≤ 4e6/term, 64 terms ⇒ ≪ Long range.
    *
    * Scale shape: codes relation is (bucket, id, `subspaces` ints) — at
    * 100 TB the 4·dim-byte vector column never shuffles, only the ~M-byte
    * codes do; codebooks and per-query LUTs broadcast (subspaces ×
    * codesPerSub longs per query). Recall < 1 by design (coarse probe
    * misses + quantization error); `ann_cosine_topk` is the exact
    * baseline.
    *
    * @param codesSink / booksSink / probesSink oracle hooks over the
    *   (bucket, id, codes), (sub, code, cw) and (query_id, bucket)
    *   relations — the catalog persists them so the DuckDB oracle
    *   re-derives candidate restriction, ADC scoring, and top-k ranking
    *   from the exact trained state this run used (same contract as
    *   ivfTopK's sinks).
    * @return (query_id, rank, neighbor_id, adc_dot_scaled)
    */
  def ivfPqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      numCentroids: Int = 16,
      nprobe: Int = 4,
      subspaces: Int = 8,
      codesPerSub: Int = 16,
      sampleSize: Int = 2000,
      seed: Long = 42L,
      codesSink: DataFrame => DataFrame = identity,
      booksSink: DataFrame => DataFrame = identity,
      probesSink: DataFrame => DataFrame = identity): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val sample = sampleVecs(base, sampleSize, seed)
    require(sample.nonEmpty, "ivfPqTopK: empty corpus")
    val dim = sample.head.length
    require(dim % subspaces == 0,
      s"ivfPqTopK: dim $dim not divisible by subspaces $subspaces")
    val subDim = dim / subspaces

    val coarse = kmeansLite(sample, numCentroids, iters = 5, seed)
    // per-subspace codebooks: L2 k-means over the sample's slices (slices
    // are not unit-norm, so the coarse quantizer's dot assignment would
    // collapse magnitude information)
    val books: Array[Array[Array[Float]]] = Array.tabulate(subspaces) { m =>
      kmeansL2(sample.map(v => v.slice(m * subDim, (m + 1) * subDim)),
        codesPerSub, iters = 5, seed + m + 1)
    }
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    val bcBooks = spark.sparkContext.broadcast(books)

    // consumed for the sink's write side effect only (oracle side table)
    booksSink(
      spark.createDataset(for {
        m <- books.indices
        c <- books(m).indices
      } yield (m, c, books(m)(c))).toDF("sub", "code", "cw"))

    // one narrow pass: vector -> (coarse bucket, PQ codes); the raw
    // vector is dropped here and never shuffles again
    val codes = codesSink(base
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val bucket = nearestCentroids(bcCoarse.value, v, 1).head
        val cs = Array.tabulate(subspaces) { m =>
          nearestCodeL2(bcBooks.value(m), v, m * subDim, subDim)
        }
        (bucket, id, cs)
      }
      .toDF("bucket", "id", "codes"))

    val queries = base
      .filter(col("id").isin(queryIds: _*))
      .as[(Long, Array[Float])]
      .collect()
    val probes = queries.flatMap { case (qid, qv) =>
      nearestCentroids(bcCoarse.value, qv, nprobe).map(b => (qid, b))
    }
    val probesDf =
      probesSink(spark.createDataset(probes.toSeq).toDF("query_id", "bucket"))

    // per-query ADC lookup tables in scaled-integer arithmetic:
    // lut(m)(code) = sum_j floor(q[m*subDim+j]*1000+.5) * floor(cw[j]*1000+.5)
    val luts: Map[Long, Array[Array[Long]]] = queries.map { case (qid, qv) =>
      val qInt = qv.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong)
      qid -> Array.tabulate(subspaces) { m =>
        books(m).map { cw =>
          var s = 0L
          var j = 0
          while (j < subDim) {
            s += qInt(m * subDim + j) *
              math.floor(cw(j).toDouble * 1000 + 0.5).toLong
            j += 1
          }
          s
        }
      }
    }.toMap
    val bcLuts = spark.sparkContext.broadcast(luts)

    val scored = codes
      .join(broadcast(probesDf), "bucket")
      .filter(col("id") =!= col("query_id"))
      .as[(Int, Long, Array[Int], Long)]
      .map { case (_, id, cs, qid) =>
        val lut = bcLuts.value(qid)
        var s = 0L
        var m = 0
        while (m < cs.length) { s += lut(m)(cs(m)); m += 1 }
        (qid, id, s)
      }
      .toDF("query_id", "neighbor_id", "adc_dot_scaled")
      // same duplicate-corpus-id guard as ivfTopK: a repeated id scores
      // once per copy; keep one row per (query, neighbor)
      .dropDuplicates("query_id", "neighbor_id")

    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dot_scaled").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_dot_scaled"))
  }

  /** Nearest codeword of `v`'s slice [off, off+subDim) by squared L2,
    * smallest index winning ties — the PQ encoding assignment.
    */
  private[operators] def nearestCodeL2(
      book: Array[Array[Float]], v: Array[Float], off: Int, subDim: Int): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < book.length) {
      val cw = book(c)
      var d = 0.0
      var j = 0
      while (j < subDim) {
        val x = v(off + j).toDouble - cw(j).toDouble
        d += x * x
        j += 1
      }
      if (d < bestD) { bestD = d; best = c } // strict: first index wins ties
      c += 1
    }
    best
  }

  /** L2-distance Lloyd iterations — kmeansLite's metric twin for
    * subspace codebooks, where vectors are arbitrary-magnitude slices.
    */
  private[operators] def kmeansL2(
      sample: Array[Array[Float]],
      k: Int,
      iters: Int,
      seed: Long): Array[Array[Float]] =
    lloyd(sample, k, iters, seed,
      (cs, v) => nearestCodeL2(cs, v, 0, v.length))

  /** SemDeDup — semantic deduplication (public method: Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the corpus with a coarse k-means quantizer,
    * then compare embeddings ONLY within their cluster and mark every
    * vector whose cosine to a lower-id cluster member reaches `threshold`
    * as a semantic duplicate of its smallest such partner. Cross-cluster
    * near-dups are missed by design — that locality is exactly what makes
    * the method linear-ish instead of all-pairs at web scale.
    *
    * Scale shape: the quantizer trains on a driver-side sample (tiny);
    * assignment is one narrow pass; the within-cluster self-join shuffles
    * on bucket ONCE (ReusedExchange serves both sides). `maxBucketSize` is
    * the same skew guard as the LSH dedup family's: a hot centroid (a
    * giant near-identical cluster, or numCentroids sized too small for the
    * corpus — keep k ∝ √n) would otherwise stream |bucket|² candidate rows
    * through one join task; over-cap buckets degrade to STAR comparisons
    * around the bucket's min id instead of going quadratic. The pair
    * kernel accumulates cosine in fixed left-to-right Double order (DuckDB
    * list_sum parity — the oracle is cell-exact on the float path).
    *
    * @param assignSink hook over the (bucket, id, vec) assignment (the
    *   catalog persists it so the oracle re-derives everything downstream
    *   of the trained quantizer). Oracle precondition (same contract as
    *   embeddingNearDups' sigSink): the plain bucket-self-join SQL models
    *   only the under-cap path, so catalog parameters must keep every
    *   bucket ≤ maxBucketSize at verification scale.
    * @param maxBucketSize buckets larger than this compare members only
    *   against the bucket's smallest id (star degradation) — bounded work
    *   per bucket, reduced within-bucket recall, never an OOM
    * @return (id, bucket, canonical_id, is_dup): canonical_id = smallest
    *   same-bucket partner with cosine ≥ threshold (id itself when none —
    *   the exactDuplicates output contract)
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numCentroids: Int = 16,
      sampleSize: Int = 2000,
      seed: Long = 42L,
      maxBucketSize: Int = 2000,
      assignSink: DataFrame => DataFrame = identity): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val bcCentroids = trainQuantizer(base, numCentroids, sampleSize, seed)
    // persisted: the assignment pass feeds the bucket self-join (one
    // reused exchange) AND the final id-keyed canonical join — without
    // the persist the identity-sink path would re-run the scan and the
    // per-row centroid assignment for the second consumer. Released
    // after the eager materialization below.
    val assigned0 = assignSink(base
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (nearestCentroids(bcCentroids.value, v, 1).head, id, v)
      }
      .toDF("bucket", "id", "vec"))
    semanticDedupFromAssignment(assigned0, threshold, maxBucketSize)
  }

  /** SemDeDup's within-cluster pruning over a PRECOMPUTED assignment
    * relation `(bucket, id, vec)` — the shared back half of
    * [[semanticDedup]], also driven directly by other bucketers (the
    * exact-k-means catalog variant). Same cap discipline, same output
    * contract.
    */
  def semanticDedupFromAssignment(
      assigned0: DataFrame,
      threshold: Double,
      maxBucketSize: Int = 2000): DataFrame = {
    val spark = assigned0.sparkSession
    import spark.implicits._
    val assigned = assigned0.select(col("bucket"), col("id"), col("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val buckets = BucketPairs("semanticDedupFromAssignment", assigned,
      Seq("bucket"), maxBucketSize, assigned)
    val pairs = buckets.pairs("vec")
      .as[(Long, Long, Array[Float], Array[Float])]
      .map { case (ia, ib, va, vb) => (ia, ib, cosine(va, vb)) }
      .toDF("id_a", "id_b", "cosine")
      .filter(col("cosine") >= threshold)
    val result = assigned.as("m")
      .join(pairs.groupBy(col("id_b").as("id"))
        .agg(min(col("id_a")).as("dup_of")), Seq("id"), "left")
      .select(col("id"), col("bucket").cast("long").as("bucket"),
        coalesce(col("dup_of"), col("id")).as("canonical_id"),
        col("dup_of").isNotNull.as("is_dup"))
    buckets.materialize(result, spark)
  }

  /** Shared seeded-init + Lloyd loop; the metric twins below differ only
    * in the per-vector assignment (`nearest`: first index wins ties).
    */
  private def lloyd(
      sample: Array[Array[Float]],
      k: Int,
      iters: Int,
      seed: Long,
      nearest: (Array[Array[Float]], Array[Float]) => Int): Array[Array[Float]] = {
    if (sample.isEmpty) return Array.empty
    val dim = sample.head.length
    val rng = new java.util.Random(seed)
    var centroids = Array.tabulate(math.min(k, sample.length)) { i =>
      sample(rng.nextInt(sample.length)).clone()
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        val best = nearest(centroids, v)
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      centroids = centroids.indices.map { i =>
        if (counts(i) == 0) centroids(i)
        else Array.tabulate(dim)(j => (sums(i)(j) / counts(i)).toFloat)
      }.toArray
      it += 1
    }
    centroids
  }

  /** Raw-dot assignment (unit-ish vectors: the coarse-quantizer metric). */
  private def dotArgmax(centroids: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0
    var bestD = Double.MinValue
    var i = 0
    while (i < centroids.length) {
      val d = dot(v, centroids(i))
      if (d > bestD) { bestD = d; best = i } // strict: first index wins ties
      i += 1
    }
    best
  }

  private[operators] def kmeansLite(
      sample: Array[Array[Float]],
      k: Int,
      iters: Int,
      seed: Long): Array[Array[Float]] =
    lloyd(sample, k, iters, seed, dotArgmax)
}
