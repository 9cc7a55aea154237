package graft.operators

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  private def embDf = {
    import spark.implicits._
    val rng = new java.util.Random(7)
    val rows = (0L until 100L).map { i =>
      (i, Array.fill(32)(rng.nextFloat() * 2 - 1))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("cosine kernel: self = 1, orthogonal = 0") {
    val a = Array(1f, 0f, 0f)
    val b = Array(0f, 1f, 0f)
    assert(math.abs(Similarity.cosine(a, a) - 1.0) < 1e-12)
    assert(Similarity.cosine(a, b) == 0.0)
    assert(Similarity.cosine(a, Array(0f, 0f, 0f)) == 0.0)
  }

  test("bruteForceTopK: k neighbors per query, ranked by cosine, no self") {
    val r = Similarity.bruteForceTopK(embDf, "vec_id", "embedding", Seq(0L, 1L), k = 5)
    val rows = r.collect()
    assert(rows.length == 10)
    Seq(0L, 1L).foreach { q =>
      val mine = rows.filter(_.getLong(0) == q).sortBy(_.getLong(1))
      assert(mine.map(_.getLong(1)).toSeq == (1 to 5))
      val cosines = mine.map(_.getDouble(3))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
      assert(!mine.exists(_.getLong(2) == q), "self must be excluded")
    }
  }

  test("ivfTopK: subset of brute-force candidates with decent recall at full probe") {
    val brute = Similarity
      .bruteForceTopK(embDf, "vec_id", "embedding", Seq(0L), k = 5)
      .collect()
      .map(_.getLong(2))
      .toSet
    val ivf = Similarity
      .ivfTopK(embDf, "vec_id", "embedding", Seq(0L), k = 5, numCentroids = 4, nprobe = 4)
      .collect()
      .map(_.getLong(2))
      .toSet
    // probing all centroids == exhaustive => identical result set
    assert(ivf == brute, s"ivf=$ivf brute=$brute")
  }

  test("ivfTopK with partial probe returns k rows (approximate)") {
    val r = Similarity
      .ivfTopK(embDf, "vec_id", "embedding", Seq(0L), k = 5, numCentroids = 8, nprobe = 2)
      .collect()
    assert(r.length == 5)
  }

  test("ivf recall@5 over 20 queries is usable at partial probe") {
    val queries = (0L until 20L)
    val brute = Similarity
      .bruteForceTopK(embDf, "vec_id", "embedding", queries, k = 5)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val ivf = Similarity
      .ivfTopK(embDf, "vec_id", "embedding", queries, k = 5,
        numCentroids = 8, nprobe = 4)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = queries.map { q =>
      brute(q).intersect(ivf.getOrElse(q, Set.empty)).size.toDouble / brute(q).size
    }.sum / queries.size
    info(f"ivf recall@5 (8 centroids, nprobe 4): $recall%.2f")
    assert(recall >= 0.5, f"recall too low: $recall%.2f")
  }

  test("ivfPqTopK: k ranked rows per query, no self, scores non-increasing") {
    val r = Similarity.ivfPqTopK(embDf, "vec_id", "embedding", Seq(0L, 1L, 2L),
      k = 5, numCentroids = 8, nprobe = 8, subspaces = 8, codesPerSub = 8)
    val rows = r.collect()
    assert(rows.length == 15, s"expected 3x5 rows, got ${rows.length}")
    Seq(0L, 1L, 2L).foreach { q =>
      val mine = rows.filter(_.getLong(0) == q).sortBy(_.getLong(1))
      assert(mine.map(_.getLong(1)).toSeq == (1 to 5))
      assert(!mine.exists(_.getLong(2) == q), "self must be excluded")
      val scores = mine.map(_.getLong(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"ADC scores must be non-increasing: ${scores.mkString(",")}")
    }
  }

  test("ivfPqTopK is deterministic and recalls the quantized-dot exact top-5") {
    import spark.implicits._
    val queries = (0L until 10L)
    // exact baseline in the same scaled-integer dot the ADC approximates
    val data = embDf.as[(Long, Array[Float])].collect().sortBy(_._1)
    def qi(v: Array[Float]) = v.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong)
    val exact = queries.map { q =>
      val qv = qi(data(q.toInt)._2)
      q -> data.iterator
        .filter(_._1 != q)
        .map { case (id, v) =>
          (id, qi(v).zip(qv).map { case (a, b) => a * b }.sum) }
        .toSeq.sortBy { case (id, d) => (-d, id) }
        .take(5).map(_._1).toSet
    }.toMap
    def run() = Similarity
      .ivfPqTopK(embDf, "vec_id", "embedding", queries, k = 5,
        numCentroids = 8, nprobe = 8, subspaces = 8, codesPerSub = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val a = run()
    assert(a.toSeq == run().toSeq, "same seed must reproduce exactly")
    val pq = a.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    // full probe (nprobe = numCentroids) isolates PQ quantization error:
    // on 100 random dim-32 vectors, 8x16-code books keep most of top-5
    val recall = queries.map { q =>
      exact(q).intersect(pq.getOrElse(q, Set.empty)).size.toDouble / 5
    }.sum / queries.size
    info(f"ivf-pq recall@5 (full probe): $recall%.2f")
    assert(recall >= 0.3, f"recall too low: $recall%.2f")
  }

  test("kmeansL2 deterministic under seed; nearestCodeL2 first-index tie-break") {
    val rng = new java.util.Random(3)
    val sample = Array.fill(50)(Array.fill(4)(rng.nextFloat()))
    val a = Similarity.kmeansL2(sample, 4, 5, 11L)
    val b = Similarity.kmeansL2(sample, 4, 5, 11L)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // duplicate codewords: equal distance, first index must win
    val book = Array(Array(1f, 1f), Array(1f, 1f), Array(0f, 0f))
    assert(Similarity.nearestCodeL2(book, Array(1f, 1f), 0, 2) == 0)
    // offset slicing reads [off, off+subDim)
    assert(Similarity.nearestCodeL2(book, Array(9f, 9f, 0f, 0f), 2, 2) == 2)
  }

  test("semanticDedup: planted near-identical vectors collapse to min id") {
    import spark.implicits._
    val rng = new java.util.Random(13)
    val base = (0L until 60L).map(i => (i, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    // 100/101 duplicate vector 5 (tiny jitter): same cluster, cosine ≈ 1
    def jitter(v: Array[Float], eps: Float) = v.map(_ + eps)
    val planted = Seq((100L, jitter(base(5)._2, 1e-4f)), (101L, jitter(base(5)._2, 2e-4f)))
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val r = Similarity
      .semanticDedup(df, "vec_id", "embedding", threshold = 0.95, numCentroids = 4)
      .collect()
      .map(x => x.getLong(0) -> (x.getLong(2), x.getBoolean(3)))
      .toMap
    assert(r.size == 62, "one row per vector")
    assert(r(100L) == ((5L, true)), s"100 should dup onto 5: ${r(100L)}")
    assert(r(101L) == ((5L, true)), s"101 should dup onto 5: ${r(101L)}")
    assert(r(5L) == ((5L, false)), "the canonical keeps itself")
    // random 16-dim vectors essentially never reach cosine 0.95
    assert(r.count(_._2._2) == 2, "only the planted dups are marked")
  }

  test("semanticDedup invariants: one row per id, min-partner canonical, same-bucket") {
    val r = Similarity
      .semanticDedup(embDf, "vec_id", "embedding", threshold = 0.2, numCentroids = 4)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getBoolean(3)))
    assert(r.map(_._1).distinct.length == 100, "exactly one row per vector")
    val bucketOf = r.map(x => x._1 -> x._2).toMap
    r.foreach { case (id, bucket, canonical, isDup) =>
      assert(canonical <= id, s"canonical must not exceed id: $id -> $canonical")
      assert(isDup == (canonical != id), "is_dup consistent with canonical")
      if (isDup)
        assert(bucketOf(canonical) == bucket,
          s"canonical $canonical of $id must share bucket $bucket")
    }
    // repartition invariance: the quantizer trains on a hash-ordered
    // driver sample and scoring is per-row, so partitioning is irrelevant
    val r2 = Similarity
      .semanticDedup(embDf.repartition(7), "vec_id", "embedding",
        threshold = 0.2, numCentroids = 4)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getBoolean(3)))
    assert(r.sortBy(_._1).toSeq == r2.sortBy(_._1).toSeq)
  }

  test("semanticDedup: a hot bucket degrades to star comparisons, not n²") {
    import spark.implicits._
    // numCentroids=1 pins every vector into ONE bucket (k-means would
    // happily split even a near-identical cluster between two centroids)
    // and the tiny jitter keeps every pair above the threshold; with the
    // cap forced low the bucket must take the star path: every member
    // dups onto the bucket min (id 0), exactly the embeddingNearDups
    // degradation
    val base = Array.fill(8)(1f)
    val df = (0L until 40L)
      .map(i => (i, base.zipWithIndex.map { case (v, j) => v + (i * 8 + j) * 1e-5f }))
      .toDF("vec_id", "embedding")
    val r = Similarity
      .semanticDedup(df, "vec_id", "embedding", threshold = 0.99,
        numCentroids = 1, maxBucketSize = 10)
      .collect()
      .map(x => (x.getLong(0), x.getLong(2), x.getBoolean(3)))
      .sortBy(_._1)
    assert(r.length == 40, "one row per vector survives the cap")
    assert(r.head == ((0L, 0L, false)), "bucket min keeps itself")
    assert(r.tail.forall { case (_, canonical, isDup) => canonical == 0L && isDup },
      s"every member should star onto the bucket min: ${r.tail.take(5).toSeq}")
    // under-cap control: same corpus, cap above bucket size => same labels
    // via the full within-bucket join (the star path is a strict subset of
    // clique pairs here, so canonical labels agree)
    val full = Similarity
      .semanticDedup(df, "vec_id", "embedding", threshold = 0.99,
        numCentroids = 1, maxBucketSize = 2000)
      .collect()
      .map(x => (x.getLong(0), x.getLong(2), x.getBoolean(3)))
      .sortBy(_._1)
    assert(full.toSeq == r.toSeq, "cap changes cost shape, not labels, when min-partner wins")
  }

  test("kmeansLite is deterministic under seed") {
    val rng = new java.util.Random(3)
    val sample = Array.fill(50)(Array.fill(8)(rng.nextFloat()))
    val a = Similarity.kmeansLite(sample, 4, 3, 42L)
    val b = Similarity.kmeansLite(sample, 4, 3, 42L)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("semanticDedupFromAssignment over exact-k-means buckets collapses planted dups") {
    import spark.implicits._
    val rng = new java.util.Random(13)
    val base = (0L until 60L).map(i => (i, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    def jitter(v: Array[Float], eps: Float) = v.map(_ + eps)
    val planted = Seq((100L, jitter(base(5)._2, 1e-4f)), (101L, jitter(base(5)._2, 2e-4f)))
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val m = KMeansExact.fit(df, "vec_id", "embedding", k = 4, iters = 3)
    val assigned = KMeansExact.assignWithVec(df, "vec_id", "embedding", m.centroids)
    // the assignment bridge buckets exactly like KMeansExact.assign
    val viaAssign = KMeansExact.assign(df, "vec_id", "embedding", m.centroids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assigned.collect().foreach { r =>
      assert(r.getLong(1 /* id */) >= 0)
      assert(viaAssign(r.getLong(1)) == r.getLong(0), s"bucket mismatch for ${r.getLong(1)}")
    }
    val r = Similarity.semanticDedupFromAssignment(assigned, threshold = 0.95)
      .collect()
      .map(x => x.getLong(0) -> (x.getLong(2), x.getBoolean(3)))
      .toMap
    assert(r.size == 62, "one row per vector")
    assert(r(100L) == ((5L, true)) && r(101L) == ((5L, true)) && r(5L) == ((5L, false)))
    assert(r.count(_._2._2) == 2, "only the planted dups are marked")
  }

  test("semanticDedupFromAssignment full-recall refuses a hot bucket, no cache leak") {
    import org.apache.spark.sql.functions.{col, lit}
    // hostile assignment: every vector lands in one bucket — full-recall
    // mode must refuse up front AND release the assigned/bucketSizes
    // caches it built while checking (the ADVICE r10 finding)
    val n = Dedupe.fullRecallBucketLimit.toInt + 1
    val hostile = spark.range(n)
      .select(lit(0L).as("bucket"), col("id"),
        lit(Array(1.0f, 0.0f)).as("vec"))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedupFromAssignment(hostile, threshold = 0.9,
        maxBucketSize = Int.MaxValue)
    }
    assert(e.getMessage.contains("fullRecallBucketLimit"),
      s"guard must name its threshold, got: ${e.getMessage}")
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "refused full-recall call leaked cached relations")
  }

  test("ivfAppendAssign: frozen-centroid argmin, ties to lowest, bucket sizes fold") {
    import spark.implicits._
    // frozen quantizer (integer grid, scale 1000); base index: bucket 0
    // holds 5 vectors, bucket 2 holds 1, bucket 1 empty
    val cents = Array(Array(0L, 0L), Array(1000L, 0L), Array(0L, 1000L))
    val baseCounts = Seq((0L, 5L), (2L, 1L)).toDF("bucket", "n_base")
    val nb = Seq(
      (10L, Array(0.1f, 0.1f)),  // d = (20k, 830k, 830k)       -> bucket 0
      (11L, Array(0.9f, 0.0f)),  // d = (810k, 10k, 1.81M)      -> bucket 1
      (12L, Array(0.4f, 0.6f)),  // d = (520k, 720k, 320k)      -> bucket 2
      (13L, Array(0.5f, 0.5f)))  // three-way 500k tie          -> bucket 0
      .toDF("vec_id", "embedding")
    val got = Similarity
      .ivfAppendAssign(nb, "vec_id", "embedding", cents, baseCounts)
      .orderBy("id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (10L, 0L, 20000L, 5L, 7L),
      (11L, 1L, 10000L, 0L, 1L),
      (12L, 2L, 320000L, 1L, 2L),
      (13L, 0L, 500000L, 5L, 7L)))
  }
}
